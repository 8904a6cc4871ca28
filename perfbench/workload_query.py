"""``query``: the Spark query engine in a closed loop with one caller.

A fixed interleaved mix of ``bm25.free_query`` (60%),
``wand.free_query_wand`` (20%) and ``boolean.boolean_query`` (20%),
each collected, over the index fixture (see ``fixture.py``). Every
query string is distinct. Timing starts after a warm-up long enough for the
JVM to reach its plateau; the per-window p50 of the warm-up and of the
timed window is recorded. A fixed sample of answers is checked
against the pure-Python oracle (see ``checks.py``).
"""

from __future__ import annotations

import time

from common import jvm_pid, median, quantile, rss_mb, start_spark, stop_spark
from checks import check_answer, check_index
from fixture import build_fixture
from inputs import QuerySampler, make_corpus, query_shapes, read_corpus, word_dfs
from tracing import SparkCounters, Tracer, exchanges, spellcheck_corrected, spellcheck_metrics

PATTERN = ("bm25", "bm25", "wand", "bm25", "boolean", "bm25", "wand", "bm25", "boolean", "bm25")
WARMUP_OPS = 50
WINDOW_OPS = 20  # ops per p50 window in the warm-up record
MAX_OPS = 1000
CHECK_MAX = 40


def query_stream(seed: int, corpus) -> list[tuple[str, str, bool]]:
    """(kind, query, misspelled) for op i: kinds follow PATTERN, shapes
    follow ``query_shapes``; every query string is distinct."""
    sampler = QuerySampler(seed, word_dfs(corpus))
    free = iter(query_shapes(MAX_OPS, 0.0))
    bool_forms = iter(query_shapes(MAX_OPS, 1.0))
    kinds = [PATTERN[i % len(PATTERN)] for i in range(MAX_OPS)]
    shapes = [next(bool_forms) if k == "boolean" else next(free) for k in kinds]
    queries = sampler.distinct(shapes, set())
    return [(k, q, sh[0] == "free" and sh[2] >= 0) for k, q, sh in zip(kinds, queries, shapes)]


def window_p50s(lat: list[float]) -> list[float]:
    return [
        1000 * median(lat[i : i + WINDOW_OPS])
        for i in range(0, len(lat) - WINDOW_OPS + 1, WINDOW_OPS)
    ]


def check_answers(oracle, answers) -> list[str]:
    """(kind, query, rows) against the oracle; -> what was wrong."""
    wrong = []
    for kind, q, rows in answers:
        err = check_answer(oracle, q, kind == "boolean", rows)
        if err:
            wrong.append(f"{kind} {q!r}: {err}")
    return wrong


def run(seed: int, seconds: float, trace: bool, run_dir, rec) -> dict:
    corpus = run_dir / "corpus.parquet"
    facts = make_corpus(seed, corpus)
    idx_dir = run_dir / "idx"
    stream = query_stream(seed, corpus)
    rec["queries"] = {
        "distinct": len(stream),
        "misspelled_share": sum(m for _, _, m in stream) / len(stream),
        "pattern": PATTERN,
    }

    spark, session_s = start_spark()
    try:
        from search_rs_spark.operators import bm25, boolean, wand
        from search_rs_spark.plans import index as index_mod

        tracer = Tracer(enabled=trace)
        build_s, layer = build_fixture(spark, corpus, idx_dir, facts["text_bytes"], tracer)
        counters = SparkCounters(spark) if trace else None
        if trace:
            from search_rs_spark.operators.spellcheck import DriverVocabulary

            tracer.wrap(index_mod.SearchIndex, "load", "index.load")
            tracer.wrap(index_mod.SearchIndex, "driver_vocab", "index.driver_vocab")
            tracer.wrap(bm25, "free_query", "bm25.plan")
            tracer.wrap(bm25, "resolve_query_terms", "bm25.resolve")
            tracer.wrap(wand, "resolve_query_terms", "bm25.resolve")
            tracer.wrap(wand, "free_query_wand", "wand.plan")
            # wand's own reference to the exhaustive scorer: each call is
            # a wand query the cost gate sent to bm25 instead of pruning
            tracer.count(wand, "free_query", "wand.exhaustive")
            tracer.wrap(boolean, "boolean_query", "boolean.plan")
            tracer.count(DriverVocabulary, "spellcheck_term", "spellcheck", spellcheck_corrected)

        t_load = time.perf_counter()
        idx = index_mod.SearchIndex.load(spark, str(idx_dir))
        idx.driver_vocab()
        load_s = time.perf_counter() - t_load

        calls = {
            "bm25": lambda q: bm25.free_query(idx, q),
            "wand": lambda q: wand.free_query_wand(idx, q),
            "boolean": lambda q: boolean.boolean_query(idx, q),
        }
        per_type: dict[str, list[dict]] = {k: [] for k in calls}

        def one(i: int):
            kind, q, _ = stream[i]
            tracer.op = i
            t = time.perf_counter()
            if tracer.enabled:
                out: dict = {}
                with tracer.span(f"query.{kind}"), counters.group(f"query.{kind}", out):
                    df = calls[kind](q)
                    with tracer.span(f"{kind}.exec"):
                        rows = df.collect()
                dt = time.perf_counter() - t
                out["exchanges"] = exchanges(df)
                per_type[kind].append(out)
            else:
                rows = calls[kind](q).collect()
                dt = time.perf_counter() - t
            return dt, [(int(r["doc_id"]), float(r["score"])) for r in rows]

        tracer.enabled = False
        warm = [one(i)[0] for i in range(WARMUP_OPS)]
        setup_s = session_s + load_s + sum(warm)
        rec["warmup"] = {
            "ops": WARMUP_OPS,
            "window_ops": WINDOW_OPS,
            "window_p50_ms": window_p50s(warm),
            "session_s": session_s,
            "load_s": load_s,
            "index_build_s": build_s,
        }

        lat, traced_lat, answers = [], [], []
        attempted = failed = 0
        errors: list[str] = []
        i = WARMUP_OPS
        start = time.perf_counter()
        while time.perf_counter() - start < seconds and i < MAX_OPS:
            # traced runs alternate blocks of one full PATTERN so both
            # sides see the same query mix
            tracer.enabled = trace and ((i - WARMUP_OPS) // len(PATTERN)) % 2 == 1
            attempted += 1
            try:
                dt, rows = one(i)
            except Exception as e:  # a failed query is counted, not fatal
                failed += 1
                errors.append(f"{stream[i][0]} {stream[i][1]!r}: {e.__class__.__name__}: {e}")
            else:
                (traced_lat if tracer.enabled else lat).append(dt)
                if len(answers) < CHECK_MAX:
                    answers.append((stream[i][0], stream[i][1], rows))
            i += 1
        tracer.enabled = False
        window_s = time.perf_counter() - start
        jvm_rss = rss_mb(jvm_pid(spark))
    finally:
        stop_spark(spark)

    from search_rs_spark.oracle import build_oracle

    oracle = build_oracle(read_corpus(corpus))
    wrong = check_index(idx_dir, oracle) + check_answers(oracle, answers)
    failed += len(wrong)
    rec["timed"] = {
        "ops": len(lat),
        "window_s": window_s,
        "window_p50_ms": window_p50s(lat),
        "latency_ms": [1000 * x for x in lat],
    }
    rec["checks"] = {"checked": len(answers), "wrong": wrong, "errors": errors}

    result = {"attempted": attempted, "failed": failed, "correct": not wrong and not errors}
    if not trace:
        result["e2e"] = {
            "setup_s": (setup_s, "s"),
            "index_build_s": (build_s, "s"),
            "p50_ms": (1000 * median(lat), "ms"),
            "p90_ms": (1000 * quantile(lat, 0.90), "ms"),
            "qps": (len(lat) / sum(lat), "1/s"),
            "rss_mb": (jvm_rss, "MB"),
        }
    else:
        totals = tracer.totals()
        n_traced = max(1, len(traced_lat))
        wand_calls = totals.get("wand.plan", {}).get("calls", 0)
        wand_exhaustive = tracer.counts["wand.exhaustive"]["calls"]
        rec["wand"] = {
            "traced_calls": wand_calls,
            "exhaustive_calls": wand_exhaustive,
            "min_prunable_postings": wand.MIN_PRUNABLE_POSTINGS,
        }
        layer |= {
            "index.load_s": (totals.get("index.load", {}).get("total_s", 0.0), "s"),
            "index.driver_vocab_s": (totals.get("index.driver_vocab", {}).get("total_s", 0.0), "s"),
            "bm25.resolve_ms": (tracer.per_call_ms("bm25.resolve"), "ms"),
            "wand.exhaustive_share": (wand_exhaustive / max(1, wand_calls), "ratio"),
            **spellcheck_metrics(tracer.counts["spellcheck"], n_traced),
            "trace.overhead_pct": (
                100.0 * (median(traced_lat) / median(lat) - 1.0) if traced_lat else 0.0,
                "%",
            ),
        }
        for kind in calls:
            layer[f"{kind}.plan_ms"] = (tracer.per_call_ms(f"{kind}.plan"), "ms")
            layer[f"{kind}.exec_ms"] = (tracer.per_call_ms(f"{kind}.exec"), "ms")
            ops = per_type[kind] or [{}]
            for f, src, unit in (
                ("jobs", "jobs", "count"),
                ("tasks", "tasks", "count"),
                ("shuffle_bytes", "shuffle_write_bytes", "bytes"),
                ("exchanges", "exchanges", "count"),
            ):
                layer[f"query.{kind}.{f}_per_op"] = (
                    sum(o.get(src, 0) for o in ops) / len(ops),
                    unit,
                )
        result["layer"] = layer
        result["tracer"] = tracer
    return result
