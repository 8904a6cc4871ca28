"""Round-7 optimization measurement harness (bench.py is FROZEN; this
file exists so the optimization work can time individual operators,
build stages, and capture plans without touching the driver's bench).

Usage:
  python bench_extra.py build            # per-stage build timings
  python bench_extra.py queries          # per-query timings (min-of-N)
  python bench_extra.py plans <outdir>   # capture explain("formatted")

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: this host's CPU count), SPARK_GRAFT_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))


def _spark():
    from search_rs_spark.session import get_spark

    return get_spark(cores=CPUS, shuffle_partitions=max(CPUS, 8), app="bench_extra")


def run_build() -> None:
    """Build at SF_DIR, print per-stage seconds from StageRunner metrics."""
    from search_rs_spark.plans.build import build_index
    from search_rs_spark.sources.webtext import webtext_from_documents

    spark = _spark()
    out_times = []
    for rep in range(REPS):
        out = tempfile.mkdtemp(prefix="srs_bx_idx_")
        t0 = time.time()
        metrics = build_index(
            spark,
            webtext_from_documents(spark, SF_DIR),
            out,
            min_f=0,
            max_p=1.0,
            resume=False,
            corpus_fingerprint=f"bx:{SF_DIR}:{rep}",
        )
        dt = time.time() - t0
        out_times.append(dt)
        print(json.dumps({"rep": rep, "total": round(dt, 3), "stages": metrics}))
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"build_min": round(min(out_times), 3), "sf_dir": SF_DIR}))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_queries() -> None:
    from search_rs_spark.operators import dedup, similarity
    from search_rs_spark.operators.bm25 import resolve_query_terms, top_k
    from search_rs_spark.operators.boolean import boolean_query
    from search_rs_spark.operators.ivf import ivf_topk
    from search_rs_spark.operators.wand import free_query_wand
    from search_rs_spark.plans.build import build_index
    from search_rs_spark.plans.index import SearchIndex
    from search_rs_spark.sources.webtext import webtext_from_documents

    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()

    out = tempfile.mkdtemp(prefix="srs_bx_idx_")
    build_index(
        spark,
        webtext_from_documents(spark, SF_DIR),
        out,
        min_f=0,
        max_p=1.0,
        resume=False,
        corpus_fingerprint=f"bx:{SF_DIR}:q",
    )
    idx = SearchIndex.load(spark, out)

    results: dict[str, list[float]] = {}

    def timed(name, action, reps=REPS):
        spark.sparkContext.setJobDescription(f"bx:{name}")
        samples = []
        for _ in range(reps):
            t0 = time.time()
            action()
            samples.append(round(time.time() - t0, 3))
        results[name] = samples
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: samples, "min": min(samples)}))

    t0 = time.time()
    idx.driver_vocab()
    print(json.dumps({"load_vocab": round(time.time() - t0, 3)}))

    # untimed warmup (same as bench.py)
    free_query(idx, "nation region part supplier", k=100).collect()

    for i, q in enumerate(
        ["spark data query", "the fast merge sort window", "stream batch customer value row"]
    ):
        timed(f"free_q{i+1}", lambda q=q: free_query(idx, q, k=100).collect())
    timed("wand_q1", lambda: free_query_wand(idx, "spark data query", k=100).collect())
    timed("boolean_q1", lambda: boolean_query(idx, "data AND query AND NOT join").collect())
    timed("dedup_lsh", lambda: dedup.minhash_lsh_pairs(docs).collect())
    timed("dedup_exact", lambda: dedup.exact_dedup(docs).count())
    timed("dedup_exact_noop", lambda: _noop(dedup.exact_dedup(docs)))
    timed("dd_minhash_sig_noop", lambda: _noop(dedup.minhash_signatures(docs)))
    timed("dd_simhash_noop", lambda: _noop(dedup.simhash_signatures(docs)))

    emb_path = f"{SF_DIR}/embeddings.parquet"
    if os.path.exists(emb_path):
        import duckdb

        qv = [
            float(x)
            for x in duckdb.sql(
                f"SELECT embedding FROM '{emb_path}' WHERE vec_id = 0"
            ).fetchone()[0]
        ]
        emb = spark.read.parquet(emb_path)
        timed("ann_brute", lambda: similarity.cosine_topk_bruteforce(emb, qv, 10, 0).collect())
        timed("ann_ivf", lambda: ivf_topk(emb, qv, k=10, exclude_vec_id=0).collect())
        timed("sim_lsh_topk", lambda: similarity.lsh_bucketed_topk(emb, qv, k=10, exclude_vec_id=0).collect())

    shutil.rmtree(out, ignore_errors=True)
    mins = {k: min(v) for k, v in results.items()}
    print(json.dumps({"mins": mins, "sf_dir": SF_DIR, "cpus": CPUS}))


def run_plans(plan_dir: str, suffix: str) -> None:
    """Capture explain('formatted') for the declared bench queries."""
    from search_rs_spark.operators import dedup, similarity
    from search_rs_spark.operators.bm25 import free_query
    from search_rs_spark.operators.boolean import boolean_query
    from search_rs_spark.operators.ivf import ivf_topk
    from search_rs_spark.plans.build import build_index
    from search_rs_spark.plans.index import SearchIndex
    from search_rs_spark.sources.webtext import webtext_from_documents

    os.makedirs(plan_dir, exist_ok=True)
    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    out = tempfile.mkdtemp(prefix="srs_bx_idx_")
    build_index(
        spark,
        webtext_from_documents(spark, SF_DIR),
        out,
        min_f=0,
        max_p=1.0,
        resume=False,
        corpus_fingerprint=f"bx:{SF_DIR}:p",
    )
    idx = SearchIndex.load(spark, out)

    import duckdb

    emb_path = f"{SF_DIR}/embeddings.parquet"
    qv = [
        float(x)
        for x in duckdb.sql(
            f"SELECT embedding FROM '{emb_path}' WHERE vec_id = 0"
        ).fetchone()[0]
    ]
    emb = spark.read.parquet(emb_path)

    # free_query returns a local relation; its plan is the top-k
    # statement it collects
    plans = {
        "free_q1": lambda: top_k(idx, resolve_query_terms(idx, "spark data query"), 100),
        "free_q2": lambda: top_k(
            idx, resolve_query_terms(idx, "the fast merge sort window"), 100
        ),
        "boolean_q1": lambda: boolean_query(idx, "data AND query AND NOT join"),
        "dedup_lsh": lambda: dedup.minhash_lsh_pairs(docs),
        "dedup_exact": lambda: dedup.exact_dedup(docs),
        "ann_brute": lambda: similarity.cosine_topk_bruteforce(emb, qv, 10, 0),
        "ann_ivf": lambda: ivf_topk(emb, qv, k=10, exclude_vec_id=0),
    }
    for name, make in plans.items():
        df = make()
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "build":
        run_build()
    elif mode == "plans":
        run_plans(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "before")
    else:
        run_queries()
