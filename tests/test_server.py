"""Web server (S2): routes, 'b: ' routing, LRU cache, and identity of
served results with the engine's query semantics."""

import json
import os
import socket
import subprocess
import sys
import threading
import time
import urllib.request

import pytest

from search_rs_spark.plans.build import build_index
from search_rs_spark.sources.webtext import reference_fixture

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_srv"))
    build_index(spark, reference_fixture(spark), out, corpus_fingerprint="srv3")
    return out


@pytest.fixture(scope="module")
def served(index_dir):
    from search_rs_spark.server import make_server

    server = make_server(index_dir, port=0)  # ephemeral port
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, server
    server.shutdown()


def _post(base, query, accept="application/json"):
    data = urllib.parse.urlencode({"query": query}).encode()
    req = urllib.request.Request(
        f"{base}/query", data=data, headers={"Accept": accept}
    )
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.read().decode()


import urllib.parse  # noqa: E402


def test_root_serves_form(served):
    base, _ = served
    with urllib.request.urlopen(f"{base}/", timeout=10) as r:
        body = r.read().decode()
    assert 'action="/query"' in body


def test_free_query_results(served):
    base, _ = served
    resp = json.loads(_post(base, "hello"))
    assert resp["tokens"] == ["hello"]
    paths = {d["path"].split("/")[-1] for d in resp["documents"]}
    assert paths == {"1.txt", "2.txt"}
    assert all(d["score"] > 0 for d in resp["documents"])
    assert isinstance(resp["time_ms"], int)


def test_boolean_routing(served):
    base, _ = served
    resp = json.loads(_post(base, "b: hello AND NOT world"))
    paths = {d["path"].split("/")[-1] for d in resp["documents"]}
    assert paths == {"2.txt"}
    assert all(d["score"] == 1.0 for d in resp["documents"])


def test_lru_cache_hits(served):
    base, server = served
    h0 = server.srs_cache.hits
    _post(base, "man world")
    _post(base, "man world")
    _post(base, "man world")
    assert server.srs_cache.hits >= h0 + 2
    assert server.srs_cache.size == 10


def test_html_response(served):
    base, _ = served
    body = _post(base, "hello", accept="text/html")
    assert "<ol>" in body and "results in" in body


def test_served_results_match_engine(served, spark):
    base, server = served
    resp = json.loads(_post(base, "hello world"))
    direct = server.srs_engine.free_query("hello world", 100)
    assert [(d["id"], round(d["score"], 9)) for d in resp["documents"]] == [
        (d, round(s, 9)) for d, u, s in direct
    ]

def test_cache_hit_skips_engine_execution(served):
    """The reference server answers repeated queries from the RESULT
    cache without touching the engine (main.rs:123-128): a cached query
    must not re-invoke free_query/boolean_query, and the served body
    must be byte-identical to the miss's."""
    base, server = served
    engine = server.srs_engine
    calls = []
    real_free, real_bool = engine.free_query, engine.boolean_query
    engine.free_query = lambda *a, **k: (calls.append("free"), real_free(*a, **k))[1]
    engine.boolean_query = (
        lambda *a, **k: (calls.append("bool"), real_bool(*a, **k))[1]
    )
    try:
        first = _post(base, "cachehit probe world")
        n_after_miss = len(calls)
        assert n_after_miss >= 1
        second = _post(base, "cachehit probe world")
        assert len(calls) == n_after_miss, "cache hit re-ran the engine"
        a, b = json.loads(first), json.loads(second)
        a.pop("cache_hits"), a.pop("cache_misses")
        b.pop("cache_hits"), b.pop("cache_misses")
        assert a == b
    finally:
        engine.free_query, engine.boolean_query = real_free, real_bool


def test_lru_survives_thread_contention():
    """Handler threads call get/put concurrently; without the lock a put
    can evict a key between get's lookup and its move_to_end, and the
    KeyError drops the request."""
    from search_rs_spark.server import CACHE_SIZE, _LRU

    cache = _LRU()
    errors = []

    def hammer(seed):
        try:
            for i in range(20_000):
                key = f"q{(i * 7 + seed) % 14}"
                if cache.get(key) is None:
                    cache.put(key, {"i": i})
        except Exception as e:  # noqa: BLE001 — any exception fails the test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(cache.data) <= CACHE_SIZE


def _raw_post(base, content_length):
    """POST /query with a hand-written Content-Length header -> status line."""
    host, port = base.removeprefix("http://").split(":")
    with socket.create_connection((host, int(port)), timeout=10) as s:
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\n"
            + f"Content-Length: {content_length}\r\n\r\n".encode()
            + b"query=hello"
        )
        return s.makefile("rb").readline().decode()


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_bad_content_length_is_400(served, length):
    """A non-integer length used to drop the connection unanswered, and a
    negative one made ``rfile.read(-1)`` block until the client left."""
    base, _ = served
    assert _raw_post(base, length).split()[1] == "400"
    json.loads(_post(base, "hello"))  # the server still answers


def test_short_body_times_out_and_frees_the_handler(served):
    """A body shorter than its ``Content-Length`` used to block the
    handler thread in ``rfile.read`` until the client hung up; the
    socket timeout now drops the connection, unanswered."""
    from search_rs_spark.server import REQUEST_TIMEOUT_S

    base, _ = served
    t0 = time.monotonic()
    assert _raw_post(base, 100) == ""  # 11 bytes sent; closed, no status line
    assert time.monotonic() - t0 < REQUEST_TIMEOUT_S + 3
    json.loads(_post(base, "hello"))  # a fresh connection still answers


_IMPORT_PIN = """
import sys
from search_rs_spark import __main__ as cli, server
from search_rs_spark.operators.serving import LocalEngine

server.main = lambda *a, **k: None
assert cli.main(["prog", "serve", sys.argv[1], "0"]) == 0
engine = LocalEngine.load(sys.argv[1])
assert engine.free_query("hello world")
assert engine.boolean_query("hello AND NOT world")
print(sorted({m.split(".")[0] for m in sys.modules} & {"pyspark", "pandas"}))
"""


def test_serve_path_imports_neither_pyspark_nor_pandas(index_dir):
    """The serving process pays for neither library: the CLI's serve
    branch, the index load and both query kinds stay clear of them."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PIN, index_dir],
        capture_output=True, text=True, cwd=ROOT, env=env, timeout=120, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "[]", out.stdout
