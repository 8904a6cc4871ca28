"""One traced pass of ``dedup.minhash_lsh_pairs`` + ``dedup.exact_dedup``.

Run inside the serve workload's fixture JVM in traced runs only, after
one untimed pass, over the same corpus with its planted duplicates
(1% exact copies, 0.5% near copies). Every planted exact duplicate
must be found; planted-near recall is recorded.
"""

from __future__ import annotations

import time

from tracing import Tracer


def _one_pass(docs, tracer: Tracer) -> dict:
    from search_rs_spark.operators import dedup

    handles: list = []
    t = time.perf_counter()
    with tracer.span("dedup.minhash_lsh_pairs"):
        pairs = dedup.minhash_lsh_pairs(docs, persist_tracker=handles).collect()
    lsh_s = time.perf_counter() - t
    candidates = handles[-1].count()  # the persisted candidate pair set
    for h in handles:
        h.unpersist(blocking=False)
    t = time.perf_counter()
    with tracer.span("dedup.exact_dedup"):
        dups = (
            dedup.exact_dedup(docs)
            .where("is_duplicate")
            .select("doc_id", "keep_doc_id")
            .collect()
        )
    exact_s = time.perf_counter() - t
    return {
        "lsh_s": lsh_s,
        "exact_s": exact_s,
        "candidates": candidates,
        "pairs": {(int(r["doc_a"]), int(r["doc_b"])) for r in pairs},
        "keep": {int(r["doc_id"]): int(r["keep_doc_id"]) for r in dups},
    }


def dedup_layer(spark, corpus, facts: dict, tracer: Tracer) -> tuple[dict, list[str], dict]:
    """-> (dedup.* layer metrics, wrong answers, record)."""
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(str(corpus))
        .where(F.col("text").isNotNull())
        .select(
            F.regexp_extract("url", r"/(\d+)\.html$", 1).cast("long").alias("doc_id"),
            "text",
        )
    )
    enabled, tracer.enabled = tracer.enabled, False
    _one_pass(docs, tracer)  # untimed: warms the JVM for these plans
    tracer.enabled = enabled
    p = _one_pass(docs, tracer)

    keep = p["keep"]
    missing = [
        (src, copy)
        for src, copy in facts["exact_pairs"]
        if keep.get(copy) is None or keep[copy] != keep.get(src, src)
    ]
    near_found = sum((src, copy) in p["pairs"] for src, copy in facts["near_pairs"])
    near_recall = near_found / max(1, len(facts["near_pairs"]))
    wrong = [f"planted exact duplicate {pair} not found" for pair in missing]
    layer = {
        "dedup.lsh_s": (p["lsh_s"], "s"),
        "dedup.exact_s": (p["exact_s"], "s"),
        "dedup.candidates": (p["candidates"], "count"),
        "dedup.verified_pairs": (len(p["pairs"]), "count"),
        "dedup.verify_ratio": (len(p["pairs"]) / max(1, p["candidates"]), "ratio"),
        "dedup.near_recall": (near_recall, "ratio"),
    }
    record = {
        "planted_exact": len(facts["exact_pairs"]),
        "planted_exact_missing": len(missing),
        "planted_near": len(facts["near_pairs"]),
        "planted_near_found": near_found,
    }
    return layer, wrong, record
