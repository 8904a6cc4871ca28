"""Round-5 scale demonstration: 30M-doc build + head queries.

Phases run as separate processes (fresh JVM per timed leg):

  python scripts/scale_run.py gen    <n_docs> <corpus_dir>
  python scripts/scale_run.py build  <corpus_dir> <index_dir> [cores]
  python scripts/scale_run.py queries <index_dir> [reps]

Conf choices (vs the round-3/4 10M runs, documented in BASELINE.md):
- local[16]: >=16 threads saturate this ~16-effective-core box.
- 40g heap (round-4 knee study: partitioning, not heap, decides the
  postings stage; 40g leaves RAM for the tmpfs shuffle scratch).
- shuffle scratch on /dev/shm (this box's / has ~47 GB free and the
  round-4 10M run already ENOSPC'd once); zstd shuffle compression
  shrinks scratch vs the lz4 default; periodic GC lets the
  ContextCleaner drop earlier stages' shuffle files mid-build. If the
  tmpfs still fills, the checkpointed build resumes with disk scratch
  after the corpus is deleted (the postings stage reads the tokens
  checkpoint, not the corpus).
- spark.task.maxFailures=4 (local default 1 would let one Python
  worker hiccup kill an hour-long build).

All of this is what a 1000-executor deployment does anyway: cluster
managers set maxFailures 4, shuffle lands on executor-local disks, and
the build's own self-sizing (postings_shuffle_partitions) picks the
exchange widths from data volume, not the session conf.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = "/dev/shm/srs_scratch30"

BUILD_CONF = {
    "spark.local.dir": SCRATCH,
    "spark.task.maxFailures": "4",
    "spark.io.compression.codec": "zstd",
    "spark.cleaner.periodicGC.interval": "5min",
}

QUERIES = [
    ("selective", "merge sort window"),
    ("head5", "the time world man year"),
    ("allhead", "the of and to"),
]


def main() -> None:
    phase = sys.argv[1]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "40g")

    from search_rs_spark.session import get_spark

    if phase == "gen":
        n_docs, out = int(sys.argv[2]), sys.argv[3]
        from search_rs_spark.sources.webtext import synthesize_webtext

        spark = get_spark(cores=32, shuffle_partitions=32, extra_conf=BUILD_CONF)
        t0 = time.time()
        synthesize_webtext(
            spark, n_docs, seed=42, vocab_size=20000, mean_len=120,
            partitions=max(64, n_docs // 160_000),
        ).write.mode("overwrite").parquet(out)
        print(json.dumps({"phase": "gen", "n_docs": n_docs,
                          "sec": round(time.time() - t0, 1)}))

    elif phase == "buildgen":
        # build directly from the deterministic generator, no corpus
        # parquet: at 60M+ docs this disk cannot hold corpus AND index
        # (30M: 24 GB corpus + 31 GB index; ~75 GB usable here), and a
        # materialized corpus is not structurally required — the build
        # scans its input exactly once (the tokens stage's rank
        # exchange; every later stage reads the tokens checkpoint), so
        # generation cost rides inside the tokens stage, exactly like
        # reading from remote object storage would. corpus_fingerprint
        # is passed explicitly so resume never re-scans the generator.
        n_docs, out = int(sys.argv[2]), sys.argv[3]
        cores = int(sys.argv[4]) if len(sys.argv) > 4 else 16
        from search_rs_spark.plans.build import build_index
        from search_rs_spark.sources.webtext import synthesize_webtext

        os.makedirs(SCRATCH, exist_ok=True)
        spark = get_spark(cores=cores, shuffle_partitions=64, extra_conf=BUILD_CONF)
        corpus = synthesize_webtext(
            spark, n_docs, seed=42, vocab_size=20000, mean_len=120,
            partitions=max(64, n_docs // 160_000),
        )
        t0 = time.time()
        metrics = build_index(
            spark, corpus, out, resume=True,
            corpus_fingerprint=f"gen:{n_docs}:seed42:v20000:ml120",
        )
        dt = time.time() - t0
        n = json.load(open(os.path.join(out, "stats", "data.json")))["num_docs"]
        print(json.dumps({
            "phase": "buildgen", "cores": cores, "num_docs": n,
            "sec": round(dt, 1), "docs_per_sec": round(n / dt, 1),
            "stages": metrics,
        }))

    elif phase == "build":
        corpus_dir, out = sys.argv[2], sys.argv[3]
        cores = int(sys.argv[4]) if len(sys.argv) > 4 else 16
        from search_rs_spark.plans.build import build_index

        os.makedirs(SCRATCH, exist_ok=True)
        spark = get_spark(cores=cores, shuffle_partitions=64, extra_conf=BUILD_CONF)
        corpus = spark.read.parquet(corpus_dir)
        t0 = time.time()
        metrics = build_index(
            spark, corpus, out, resume=True,
            corpus_fingerprint=f"scale:{corpus_dir}",
        )
        dt = time.time() - t0
        n = json.load(open(os.path.join(out, "stats", "data.json")))["num_docs"]
        print(json.dumps({
            "phase": "build", "cores": cores, "num_docs": n,
            "sec": round(dt, 1), "docs_per_sec": round(n / dt, 1),
            "stages": metrics,
        }))

    elif phase == "queries":
        out = sys.argv[2]
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
        from search_rs_spark.operators.bm25 import free_query
        from search_rs_spark.operators.wand import free_query_wand
        from search_rs_spark.plans.index import SearchIndex

        os.makedirs(SCRATCH, exist_ok=True)
        spark = get_spark(cores=16, shuffle_partitions=64, extra_conf=BUILD_CONF)
        idx = SearchIndex.load(spark, out)
        # one untimed warmup (JIT + relation cache)
        free_query(idx, "merge sort", k=100).collect()
        res = {}
        for name, q in QUERIES:
            best = None
            for _ in range(reps):
                t0 = time.time()
                rows = free_query(idx, q, k=100).collect()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            res[name] = {"sec": round(best, 2), "rows": len(rows),
                         "top1": [rows[0]["doc_id"], round(rows[0]["score"], 4)]}
        t0 = time.time()
        rows = free_query_wand(idx, "the time world man year", k=100).collect()
        res["wand_head5_auto"] = {"sec": round(time.time() - t0, 2),
                                  "rows": len(rows)}
        print(json.dumps({"phase": "queries", "index": out, "results": res}))

    else:
        raise SystemExit(f"unknown phase {phase!r}")


if __name__ == "__main__":
    main()
