"""Run the program's web server with spans around its layers.

  python3 perfbench/serve_traced.py <index_dir> <port> <spans_out>

Same server as ``python -m search_rs_spark serve``; before it starts,
the benchmark wraps ``server.run_query`` (the cache-miss path), each
connection's handling, and the engine's ``load`` / ``free_query`` /
``boolean_query``. Calls into the window kernel ``min_window`` (once
per matching document) and the spellcheck are counted and timed in
sums rather than spans. On SIGTERM the spans and sums are written to
``spans_out`` (JSON lines) and ``spans_out`` + ``.totals.json``.
"""

from __future__ import annotations

import json
import signal
import sys

from common import ROOT
from tracing import Tracer, spellcheck_corrected


def main(index_path: str, port: int, spans_out: str) -> None:
    sys.path.insert(0, str(ROOT))
    from search_rs_spark import server
    from search_rs_spark.operators import serving
    from search_rs_spark.operators.spellcheck import DriverVocabulary

    tracer = Tracer(enabled=True)
    tracer.wrap(serving.LocalEngine, "load", "engine.load")
    tracer.wrap(serving.LocalEngine, "free_query", "engine.free")
    tracer.wrap(serving.LocalEngine, "boolean_query", "engine.boolean")
    tracer.wrap(server, "run_query", "server.run_query")

    tracer.count(serving, "min_window", "window")
    tracer.count(DriverVocabulary, "spellcheck_term", "spellcheck", spellcheck_corrected)

    class TracedServer(server.ThreadingHTTPServer):
        def finish_request(self, request, client_address):
            with tracer.span("server.request"):
                super().finish_request(request, client_address)

    server.ThreadingHTTPServer = TracedServer

    def stop(_sig, _frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    try:
        server.main(index_path, port)
    finally:
        tracer.dump(spans_out)
        with open(spans_out + ".totals.json", "w") as f:
            json.dump({"spans": tracer.totals(), "counts": tracer.counts}, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3])
