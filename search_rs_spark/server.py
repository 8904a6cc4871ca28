"""Web server (S2) mirroring the reference server's surface.

Reference: /root/reference/server/src/main.rs —
  GET  /       -> HTML page with a query form (main.rs:51,87-93)
  POST /query  -> form-encoded {query}; "b: " prefix routes to the
                  boolean engine, otherwise free-text top-100
                  (main.rs:52,112-138); responses carry the query
                  tokens, wall-clock time_ms (mod.rs:200-206) and per
                  document id/score/path/content snippet;
  LRU query cache of size 10 keyed by the raw query string
  (main.rs:21,123-128).

Implementation: stdlib ThreadingHTTPServer (no web framework in the
sandbox) over :class:`operators.serving.LocalEngine` — the driver-local
ms-latency engine that loads the same parquet tables once, keeps the
postings resident and scores them with vectorised numpy; its results
equal the Spark engine's (tests/test_serving.py). POST /query answers
JSON when the client sends ``Accept: application/json``, HTML
otherwise.
"""

from __future__ import annotations

import html
import json
import os
import time
import urllib.parse
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .functions.tokenizer import tokenize_and_stem
from .operators.serving import LocalEngine

CACHE_SIZE = 10  # server/src/main.rs:21
SNIPPET_CHARS = 250


class _LRU:
    """Tiny LRU keyed by the raw query string (main.rs:123-128)."""

    def __init__(self, size: int = CACHE_SIZE):
        self.size = size
        self.data: OrderedDict[str, dict] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key: str):
        if key in self.data:
            self.data.move_to_end(key)
            self.hits += 1
            return self.data[key]
        self.misses += 1
        return None

    def put(self, key: str, value: dict) -> None:
        self.data[key] = value
        self.data.move_to_end(key)
        while len(self.data) > self.size:
            self.data.popitem(last=False)


def _snippet(url: str) -> str:
    """The reference reads each hit's content from its path
    (main.rs:140-147); urls that aren't local files yield ''."""
    if os.path.isfile(url):
        try:
            with open(url, encoding="utf-8", errors="replace") as f:
                return f.read(SNIPPET_CHARS)
        except OSError:
            return ""
    return ""


def run_query(engine: LocalEngine, raw: str, k: int = 100) -> dict:
    """One query through the reference's routing: 'b: ' -> boolean,
    else free-text. Returns the reference response shape."""
    t0 = time.time()
    if raw.startswith("b: "):
        rows = engine.boolean_query(raw[3:])
        tokens = [t for t in raw[3:].split() if t not in ("AND", "OR", "NOT", "(", ")")]
    else:
        rows = engine.free_query(raw, k)
        tokens = tokenize_and_stem(raw)
    time_ms = int((time.time() - t0) * 1000)
    return {
        "tokens": tokens,
        "time_ms": time_ms,
        "documents": [
            {
                "id": int(d),
                "score": float(score),
                "path": url,
                "content": _snippet(url) if url else "",
            }
            for d, url, score in rows
        ],
    }


_PAGE = """<!doctype html><html><head><title>search-rs-spark</title></head>
<body><h1>search-rs-spark</h1><p>index: {index_path}</p>
<form method="post" action="/query">
<input name="query" autofocus placeholder="query, or 'b: a AND b'"/>
<button type="submit">Search</button></form></body></html>"""


def _render_results(resp: dict) -> str:
    rows = "".join(
        "<li><b>{score:.6f}</b> {path}<br/><small>{content}</small></li>".format(
            score=d["score"],
            path=html.escape(d["path"] or ""),
            content=html.escape(d["content"]),
        )
        for d in resp["documents"]
    )
    return (
        "<div><p>tokens: {tokens} — {n} results in {ms} ms</p><ol>{rows}</ol></div>"
    ).format(
        tokens=html.escape(" ".join(resp["tokens"])),
        n=len(resp["documents"]),
        ms=resp["time_ms"],
        rows=rows,
    )


def make_server(index_path: str, port: int = 3000, host: str = "127.0.0.1"):
    """-> ThreadingHTTPServer serving the loaded index; caller calls
    serve_forever() (or handle_request() in tests)."""
    engine = LocalEngine.load(index_path)
    cache = _LRU()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test runs
            pass

        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path != "/":
                self._send(404, b"not found", "text/plain")
                return
            body = _PAGE.format(index_path=html.escape(index_path)).encode()
            self._send(200, body, "text/html; charset=utf-8")

        def do_POST(self):
            if self.path != "/query":
                self._send(404, b"not found", "text/plain")
                return
            length = int(self.headers.get("Content-Length", "0"))
            form = urllib.parse.parse_qs(self.rfile.read(length).decode())
            raw = form.get("query", [""])[0]
            resp = cache.get(raw)
            if resp is None:
                resp = run_query(engine, raw)
                cache.put(raw, resp)
            if "application/json" in self.headers.get("Accept", ""):
                out = dict(resp, cache_hits=cache.hits, cache_misses=cache.misses)
                self._send(200, json.dumps(out).encode(), "application/json")
            else:
                self._send(
                    200, _render_results(resp).encode(), "text/html; charset=utf-8"
                )

    server = ThreadingHTTPServer((host, port), Handler)
    server.srs_cache = cache  # exposed for tests/metrics
    server.srs_engine = engine
    return server


def main(index_path: str, port: int = 3000) -> None:
    server = make_server(index_path, port)
    print(f"serving index {index_path} on http://127.0.0.1:{port}")
    server.serve_forever()
