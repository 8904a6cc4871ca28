"""Driver-local serving engine must equal the Spark DataFrame engine."""

import math
import os
import time

import pytest

from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.operators.boolean import boolean_query
from search_rs_spark.operators.serving import LocalEngine
from search_rs_spark.oracle import build_oracle, oracle_boolean_query
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import synthesize_webtext


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_serve"))
    wt = synthesize_webtext(spark, 150, seed=17, vocab_size=250, mean_len=35)
    build_index(spark, wt, out, corpus_fingerprint="serve150")
    oracle = build_oracle([(r["url"], r["text"]) for r in wt.select("url", "text").collect()])
    return SearchIndex.load(spark, out), LocalEngine.load(out), oracle


@pytest.mark.parametrize(
    "q", ["the world of men", "time year people", "wrk lyfe", "the the"]
)
def test_local_equals_spark_free(engines, q):
    idx, local, _ = engines
    s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 30).collect()]
    l = local.free_query(q, 30)
    assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l]
    for (_, _, ss), (_, _, ls) in zip(s, l):
        assert math.isclose(ss, ls, rel_tol=1e-9)


def test_local_long_repeated_query_equals_spark(engines, monkeypatch):
    """A query repeating a common term many times keeps the window
    kernel's memory bounded (window ids are the distinct tokens; the
    last-seen matrix is chunked, here forced to tiny chunks) and still
    equals the Spark engine, which scores every repeated id."""
    from search_rs_spark.operators import window_score as ws

    idx, local, _ = engines
    q = " ".join(["the"] * 30 + ["time", "world", "the"])
    s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 30).collect()]
    monkeypatch.setattr(ws, "_BATCH_MATRIX_CELLS", 8)
    l = local.free_query(q, 30)
    assert len(s) == 30
    assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l]
    for (_, _, ss), (_, _, ls) in zip(s, l):
        assert math.isclose(ss, ls, rel_tol=1e-9)


@pytest.mark.parametrize(
    "q", ["the AND time", "people OR year", "NOT the", "(time OR year) AND NOT people"]
)
def test_local_equals_spark_boolean(engines, q):
    idx, local, _ = engines
    s = [(r["doc_id"], r["url"]) for r in boolean_query(idx, q).collect()]
    l = [(d, u) for d, u, _ in local.boolean_query(q) if u is not None]
    assert s == l


def test_local_empty_not_quirk_equals_oracle(engines):
    """NOT of an operand that matches nothing answers ids 1..=n, the
    reference's quirk (postings.rs:179-181); id n is no document, so
    its url is None."""
    _, local, oracle = engines
    got = local.boolean_query("NOT zzzqqq")
    assert [d for d, _, _ in got] == list(range(1, local.num_docs + 1))
    assert got[-1][1] is None
    assert got == oracle_boolean_query(oracle, "NOT zzzqqq")


def test_driver_vocab_guard_fires_before_collect(engines, monkeypatch):
    """An over-threshold vocabulary must raise the routing RuntimeError
    WITHOUT collecting the vocabulary — at scale, collect-then-check
    would OOM the driver before the guard could fire. The row count
    comes from the stage manifest (no Spark job), so any collect during
    the check is a regression."""
    import pyspark.sql

    from search_rs_spark.plans import index as index_mod

    idx, _, _ = engines
    fresh = SearchIndex.load(idx.spark, idx.path)  # no cached driver vocab
    monkeypatch.setattr(index_mod, "DRIVER_VOCAB_MAX_TERMS", 1)

    def no_collect(self):
        raise AssertionError("driver_vocab collected before the size check")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", no_collect)
    with pytest.raises(RuntimeError, match="too large"):
        fresh.driver_vocab()


def test_local_latency_is_ms(engines):
    _, local, _ = engines
    local.free_query("warmup", 10)
    t0 = time.time()
    for _ in range(20):
        local.free_query("the world of men", 100)
    per_query = (time.time() - t0) / 20
    assert per_query < 0.05, per_query  # ms-scale, not Spark-job-scale


def test_local_equals_spark_on_nostem_index(spark, tmp_path_factory):
    """Q1 ≡ B3 on BOTH surfaces: an index built with stem=False must get
    the tokenize-only query path in the driver-local engine too, or
    serving results diverge from the Spark engine on the same index."""
    out = str(tmp_path_factory.mktemp("idx_serve_nostem"))
    wt = synthesize_webtext(spark, 120, seed=23, vocab_size=200, mean_len=30)
    build_index(spark, wt, out, stem=False, corpus_fingerprint="serve120ns")
    idx = SearchIndex.load(spark, out)
    local = LocalEngine.load(out)
    assert local.stem is False
    for q in ["the world of men", "people years time", "the time world"]:
        s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 25).collect()]
        l = local.free_query(q, 25)
        assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l], q
        for (_, _, ss), (_, _, ls) in zip(s, l):
            assert math.isclose(ss, ls, rel_tol=1e-9)


def test_row_group_pruning_bites(engines):
    """The Spark scan's ``term`` pushdown (bm25.scored_hits) relies on
    the term-sorted postings files: every row group must carry term
    min/max statistics, and a single-term predicate must admit strictly
    fewer rows than the table holds."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    idx, _, _ = engines
    postings = ds.dataset(os.path.join(idx.path, "postings"), format="parquet")
    frags = list(postings.get_fragments())
    assert frags
    # resolve the term column INDEX by name from the file schema — a
    # hardcoded column(1) would silently check the wrong column if the
    # postings schema order ever changed
    pf0 = pq.ParquetFile(frags[0].path)
    term_idx = pf0.schema_arrow.get_field_index("term")
    assert term_idx >= 0
    total_rows = 0
    for frag in frags:
        md = pq.ParquetFile(frag.path).metadata
        total_rows += md.num_rows
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(term_idx)
            assert col.statistics is not None and col.statistics.has_min_max
    one_term = pf0.read_row_group(0, columns=["term"])["term"][0].as_py()
    filtered = postings.to_table(columns=["term"], filter=pc.field("term") == one_term)
    assert 0 < filtered.num_rows < total_rows
