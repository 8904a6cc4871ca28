"""CLI mirroring the reference's surface (search/src/main.rs:53-117).

  python -m search_rs_spark build <input> <index_dir> [min_f] [max_p]
      <input> = a webtext/documents parquet file, a directory containing
      documents.parquet, or a directory of .txt files (one doc per file,
      walked in sorted order like the reference).
  python -m search_rs_spark query <index_dir> "<query>" [k]
      "b: <query>" routes to the boolean engine (main.rs:109-114).
  python -m search_rs_spark export <index_dir> <out_prefix>
      writes reference-format idx.{postings,offsets,alphas,docs}.
  python -m search_rs_spark serve <index_dir> [port]
      web server (GET /, POST /query, 'b: ' routing, LRU-10 cache),
      mirroring server/src/main.rs over the driver-local engine.

Results print as `score path` lines plus a time stamp, like the
reference CLI (main.rs:29-33). A small LRU keyed by the raw query
string mirrors the reference server's cache (server/src/main.rs:21).
"""

from __future__ import annotations

import os
import sys
import time
from functools import lru_cache


def _load_webtext(spark, inp: str):
    from .sources.webtext import WEBTEXT_SCHEMA, webtext_from_documents, wrap_html

    if os.path.isdir(inp) and os.path.exists(os.path.join(inp, "documents.parquet")):
        return webtext_from_documents(spark, inp)
    if inp.endswith(".parquet"):
        df = spark.read.parquet(inp)
        if "url" in df.columns:
            return df
        return webtext_from_documents(spark, os.path.dirname(inp))
    # directory of text files, sorted walk, skip hidden (file_utils.rs:14-30)
    rows = []
    for root, dirs, files in os.walk(inp):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        for f in sorted(files):
            if f.startswith("."):
                continue
            p = os.path.join(root, f)
            try:
                text = open(p, encoding="utf-8").read()
            except (UnicodeDecodeError, OSError) as e:
                print(f"skipping {p}: {e}", file=sys.stderr)
                continue
            rows.append((p, None, wrap_html(text), text, "en"))
    return spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    action = argv[1]

    if action == "serve":  # no Spark session needed — driver-local engine
        from .server import main as serve_main

        serve_main(argv[2], int(argv[3]) if len(argv) > 3 else 3000)
        return 0

    from .session import get_spark

    spark = get_spark(app=f"search_rs_spark_{action}")

    if action == "build":
        inp, out = argv[2], argv[3]
        min_f = int(argv[4]) if len(argv) > 4 else 0
        max_p = float(argv[5]) if len(argv) > 5 else 1.0
        t0 = time.time()
        metrics = __import__(
            "search_rs_spark.plans.build", fromlist=["build_index"]
        ).build_index(spark, _load_webtext(spark, inp), out, min_f=min_f, max_p=max_p)
        for m in metrics:
            print(m)
        print(f"built in {time.time() - t0:.1f}s -> {out}")
        return 0

    if action == "query":
        from .operators.bm25 import free_query
        from .operators.boolean import boolean_query
        from .plans.index import SearchIndex

        idx = SearchIndex.load(spark, argv[2])
        raw = argv[3]
        k = int(argv[4]) if len(argv) > 4 else 100

        @lru_cache(maxsize=10)  # server/src/main.rs:21
        def run(q: str):
            if q.startswith("b: "):
                return boolean_query(idx, q[3:]).collect()
            return free_query(idx, q, k).collect()

        t0 = time.time()
        rows = run(raw)
        ms = (time.time() - t0) * 1000
        for r in rows:
            print(f"{r['score']:.6f}  {r['url']}")
        print(f"{len(rows)} results in {ms:.0f}ms")
        return 0

    if action == "export":
        from .plans.export import export_reference_index
        from .plans.index import SearchIndex

        idx = SearchIndex.load(spark, argv[2])
        print(export_reference_index(idx, argv[3]))
        return 0

    print(f"unknown action {action}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
