"""``serve``: ``python -m search_rs_spark serve`` under an open loop.

The index is built in a fresh JVM (``index_build_s``), then the server
runs as its own process. Set-up is process launch to first answered
request, measured over several launches; ``rss_mb`` is the server's
VmRSS once loaded. One generator process sends requests at a fixed
rate, evenly spaced, over at most four connections. Queries are
Zipf-popular over a pool of distinct queries, a fifth of them ``b: ``
boolean, so the server's LRU-10 cache hits well under half the time. Latency is
timed from each request's due time. A fixed sample of answers is
checked against the pure-Python oracle (see ``checks.py``).

The traced run measures an untraced and a traced server in turn (the
traced one launched through ``serve_traced.py``), and also times one
dedup pass in the fixture JVM so the ``operators.dedup`` layer stays
measured.
"""

from __future__ import annotations

import http.client
import json
import queue
import socket
import subprocess
import sys
import threading
import time
import urllib.parse

import numpy as np

from common import BENCH_DIR, ROOT, median, quantile, rss_mb, start_spark, stop_spark
from checks import check_answer, check_index
from fixture import build_fixture
from inputs import QuerySampler, make_corpus, query_shapes, read_corpus, word_dfs
from tracing import Tracer, spellcheck_metrics

# requests/s, about a fifth of the server's closed-loop capacity on this
# corpus (~290 req/s on 4 vCPUs, with one or four connections). At half
# the capacity, queueing behind the slow requests made p90_ms spread
# 0.37 between runs, more than its regression bound.
RATE = 60.0
CONNECTIONS = 4
POOL = 1500
BOOLEAN_SHARE = 0.2
ZIPF_S = 0.8
WARMUP_S = 1.0
SETUP_LAUNCHES = 3
CHECK_MAX = 40
SLO_MS = 500.0
START_TIMEOUT_S = 120.0
PROBE_QUERY = "setup probe"


def query_pool(seed: int, corpus) -> list[str]:
    """POOL distinct queries, most popular first; ``b: `` routes to boolean."""
    sampler = QuerySampler(seed, word_dfs(corpus))
    shapes = query_shapes(POOL, BOOLEAN_SHARE)
    return [
        "b: " + q if sh[0] == "boolean" else q
        for q, sh in zip(sampler.distinct(shapes, set()), shapes)
    ]


def schedule(pool: list[str], seconds: float) -> list[tuple[float, str]]:
    """(due offset s, query): one arrival every 1/RATE s, Zipf popularity
    by pool rank. Even spacing keeps arrival bursts out of the latency
    tail. The rank sequence is the same for every seed (only the words
    behind each rank change), so the cache sees the same access pattern
    on every run."""
    rng = np.random.default_rng(0)
    weights = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
    n = int((WARMUP_S + seconds) * RATE)
    picks = rng.choice(len(pool), size=n, p=weights / weights.sum())
    return [((i + 1) / RATE, pool[k]) for i, k in enumerate(picks)]


def post(port: int, query: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(
            "POST",
            "/query",
            body=urllib.parse.urlencode({"query": query}),
            headers={
                "Content-Type": "application/x-www-form-urlencoded",
                "Accept": "application/json",
            },
        )
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}")
        return json.loads(body)
    finally:
        conn.close()


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One server process; ``setup_s`` = launch to first answer."""

    def __init__(self, index_dir, log_path, spans_out: str | None = None):
        self.port = free_port()
        if spans_out is None:
            cmd = [sys.executable, "-m", "search_rs_spark", "serve", str(index_dir), str(self.port)]
        else:
            script = str(BENCH_DIR / "serve_traced.py")
            cmd = [sys.executable, script, str(index_dir), str(self.port), spans_out]
        t0 = time.perf_counter()
        self.log = open(log_path, "ab")
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=self.log)
        try:
            while True:
                if self.proc.poll() is not None:
                    raise RuntimeError(f"server exited with {self.proc.returncode}; see {log_path}")
                if time.perf_counter() - t0 > START_TIMEOUT_S:
                    raise RuntimeError("server did not answer within the start timeout")
                try:
                    post(self.port, PROBE_QUERY)
                    break
                except OSError:
                    time.sleep(0.02)
            self.setup_s = time.perf_counter() - t0
            self.rss_mb = rss_mb(self.proc.pid)
        except BaseException:
            self.stop()
            raise

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=60)
        self.log.close()


def measure(index_dir, log_path, plan, launches: int, spans_out: str | None = None):
    """Launch the server ``launches`` times, one set-up sample each, and
    send ``plan`` to the last one. -> (setups, rss, summary, records)"""
    setups, rss = [], []
    server = None
    try:
        for k in range(launches):
            if server is not None:
                server.stop()
            server = Server(index_dir, log_path, spans_out if k == launches - 1 else None)
            setups.append(server.setup_s)
            rss.append(server.rss_mb)
        t_start, records = open_loop(server.port, plan)
    finally:
        if server is not None:
            server.stop()
    return setups, rss, summarize(records, t_start + WARMUP_S), records


def open_loop(port: int, plan: list[tuple[float, str]]) -> tuple[float, list[dict]]:
    """Send ``plan`` on schedule over CONNECTIONS workers; -> (start,
    one record per request: due, queued, sent, done, reply or error)."""
    work: queue.Queue = queue.Queue()
    records: list[dict] = [{} for _ in plan]

    def worker():
        while True:
            item = work.get()
            if item is None:
                return
            i, due, q = item
            rec = records[i]
            rec["sent"] = time.perf_counter()
            try:
                rec["reply"] = post(port, q)
            except Exception as e:  # counted as a failed request
                rec["error"] = f"{e.__class__.__name__}: {e}"
            rec["done"] = time.perf_counter()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    t0 = time.perf_counter()
    for i, (offset, q) in enumerate(plan):
        due = t0 + offset
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        records[i].update(due=due, query=q, queued=time.perf_counter())
        work.put((i, due, q))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(timeout=120)
    if any(t.is_alive() for t in threads):
        raise RuntimeError("open-loop workers did not finish")
    return t0, records


def check_replies(oracle, records) -> tuple[int, list[str]]:
    """The first CHECK_MAX distinct answered queries against the oracle."""
    checked: dict[str, dict] = {}
    for r in records:
        if "reply" in r and r["query"] not in checked and len(checked) < CHECK_MAX:
            checked[r["query"]] = r["reply"]
    wrong = []
    for q, reply in checked.items():
        got = [(d["id"], d["score"]) for d in reply["documents"]]
        boolean = q.startswith("b: ")
        err = check_answer(oracle, q[3:] if boolean else q, boolean, got)
        if err:
            wrong.append(f"{q!r}: {err}")
    return len(checked), wrong


def summarize(records: list[dict], t_measure: float) -> dict:
    """Requests due at or after ``t_measure``; latency from due time."""
    timed = [r for r in records if r["due"] >= t_measure]
    ok = [r for r in timed if "reply" in r]
    lat = [1000 * (r["done"] - r["due"]) for r in ok]
    span = max(r["done"] for r in ok) - t_measure if ok else 1.0
    # the replies carry the server's cumulative cache counters
    hits = [r["reply"]["cache_hits"] for r in ok] or [0]
    misses = [r["reply"]["cache_misses"] for r in ok] or [0]
    d_hits, d_misses = max(hits) - min(hits), max(misses) - min(misses)
    return {
        "requests": len(timed),
        "failed": len(timed) - len(ok),
        "latency_ms": lat,
        "service_ms": [1000 * (r["done"] - r["sent"]) for r in records if "reply" in r],
        "lag_ms": [1000 * (r["queued"] - r["due"]) for r in timed],
        "qps": len(ok) / span,
        "slo_miss_rate": (sum(x > SLO_MS for x in lat) + len(timed) - len(ok)) / max(1, len(timed)),
        "cache_hit_ratio": d_hits / max(1, d_hits + d_misses),
    }


def run(seed: int, seconds: float, trace: bool, run_dir, rec) -> dict:
    corpus = run_dir / "corpus.parquet"
    facts = make_corpus(seed, corpus, exact_dup_frac=0.01, near_dup_frac=0.005)
    pool = query_pool(seed, corpus)
    plan = schedule(pool, seconds / 2 if trace else seconds)
    idx = run_dir / "idx"
    tracer = Tracer(enabled=trace)

    spark, session_s = start_spark()
    try:
        build_s, layer = build_fixture(spark, corpus, idx, facts["text_bytes"], tracer)
        dedup_wrong: list[str] = []
        if trace:
            from dedup_pass import dedup_layer

            dedup_metrics, dedup_wrong, rec["dedup"] = dedup_layer(spark, corpus, facts, tracer)
            layer.update(dedup_metrics)
    finally:
        stop_spark(spark)

    from search_rs_spark.oracle import build_oracle

    oracle = build_oracle(read_corpus(corpus))
    wrong = check_index(idx, oracle) + dedup_wrong
    log_path = run_dir / "server.log"
    rec["fixture"] = {"session_s": session_s, "index_build_s": build_s}
    rec["load"] = {"rate_per_s": RATE, "connections": CONNECTIONS, "pool": POOL, "requests": len(plan)}

    if trace:
        # an untraced and a traced server in turn, half the window each
        _, _, summ, records = measure(idx, log_path, plan, 1)
        spans_out = str(rec.path.with_name(f"spans-serve-seed{seed}-server.jsonl"))
        _, _, tsum, _ = measure(idx, log_path, plan, 1, spans_out)
        with open(spans_out + ".totals.json") as f:
            server_totals = json.load(f)
    else:
        setups, rss, summ, records = measure(idx, log_path, plan, SETUP_LAUNCHES)
        rec["setup"] = {"setup_s": setups, "rss_mb": rss}

    n_checked, wrong_replies = check_replies(oracle, records)
    wrong += wrong_replies
    errors = [r["error"] for r in records if "error" in r]
    rec["timed"] = {k: v for k, v in summ.items() if k not in ("service_ms", "lag_ms")} | {
        "lag_ms_p50": median(summ["lag_ms"]),
        "lag_ms_max": max(summ["lag_ms"]),
    }
    rec["checks"] = {"checked": n_checked, "wrong": wrong, "errors": errors[:10]}

    result = {
        "attempted": summ["requests"],
        "failed": summ["failed"] + len(wrong),
        "correct": not wrong and not errors,
    }
    if not trace:
        result["e2e"] = {
            "setup_s": (median(setups), "s"),
            "index_build_s": (build_s, "s"),
            "p50_ms": (median(summ["latency_ms"]), "ms"),
            "p90_ms": (quantile(summ["latency_ms"], 0.90), "ms"),
            "qps": (summ["qps"], "1/s"),
            "rss_mb": (median(rss), "MB"),
        }
    else:
        totals = server_totals["spans"]
        counts = server_totals["counts"]

        def per_call_ms(name):
            t = totals.get(name)
            return 1000 * t["total_s"] / t["calls"] if t else 0.0

        # every request the traced server answered, the start-up probe too
        n_req = len(tsum["service_ms"]) + 1
        engine_total_ms = 1000 * totals.get("server.run_query", {}).get("total_s", 0.0)
        free_calls = totals.get("engine.free", {}).get("calls", 0)
        layer.update(
            {
                "server.cache_hit_ratio": (tsum["cache_hit_ratio"], "ratio"),
                "server.engine_ms": (per_call_ms("server.run_query"), "ms"),
                "server.overhead_ms": (
                    (sum(tsum["service_ms"]) - engine_total_ms) / n_req,
                    "ms",
                ),
                "gen.lag_ms": (median(tsum["lag_ms"]), "ms"),
                "engine.load_s": (totals.get("engine.load", {}).get("total_s", 0.0), "s"),
                "engine.free_ms": (per_call_ms("engine.free"), "ms"),
                "engine.boolean_ms": (per_call_ms("engine.boolean"), "ms"),
                "window.min_windows_ms": (
                    1000 * counts["window"]["seconds"] / max(1, free_calls),
                    "ms",
                ),
                **spellcheck_metrics(counts["spellcheck"], n_req),
                "trace.overhead_pct": (
                    100.0 * (median(tsum["latency_ms"]) / median(summ["latency_ms"]) - 1.0),
                    "%",
                ),
            }
        )
        rec["unavailable"] = {
            m: "the server's engine (LocalEngine) holds postings and urls in memory; "
            "these exist only in DiskEngine, which no entry point serves yet"
            for m in ("engine.read_postings_ms", "engine.rows_read_per_op", "engine.urls_ms")
        }
        rec["server_self_times"] = totals
        result["layer"] = layer
        result["tracer"] = tracer
    return result
