"""What a query and a stage read touch: postings page skipping, the
manifest schema, and the url lookup of the k winners."""

import os

import pyarrow.parquet as pq
import pytest

from search_rs_spark.operators.bm25 import free_query, resolve_query_terms, scored_hits
from search_rs_spark.operators.serving import LocalEngine
from search_rs_spark.plans.build import POSTINGS_PAGE_ROWS, build_index
from search_rs_spark.plans.checkpoint import stage_schema
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources import catalog
from search_rs_spark.sources.webtext import reference_fixture, synthesize_webtext

STAGES = ("tokens", "vocabulary", "postings")


@pytest.fixture(scope="module")
def paged_index(spark, tmp_path_factory):
    """1000 docs in 8-doc blocks: thousands of postings rows over a few
    files, so a term's rows are a small part of each file."""
    out = str(tmp_path_factory.mktemp("idx_pages"))
    wt = synthesize_webtext(spark, 1000, seed=9, vocab_size=400, mean_len=40)
    build_index(spark, wt, out, block_span=8, corpus_fingerprint="pages1000")
    return SearchIndex.load(spark, out)


def _parts(path):
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def _input_records(spark, fn, group):
    """-> the records the scans of fn()'s Spark jobs read."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    n = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(jid).stageIds()
        for i in range(ids.size()):
            n += int(store.lastStageAttempt(int(ids.apply(i))).inputRecords())
    return n


def test_postings_lookup_decodes_only_its_terms_pages(spark, paged_index):
    """A two-term postings lookup reads at most two pages per term per
    file (a term's rows are one sorted run in a file, under 128 rows
    here), far fewer than the table's rows: the pushed term IN filter
    meets the pages' column index. With one page per column chunk the
    scan reads every row."""
    idx = paged_index
    terms = resolve_query_terms(idx, "the world")
    m = len({t for _, t, _ in terms})
    assert m == 2
    files = _parts(os.path.join(idx.path, "postings"))
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    got = _input_records(spark, lambda: scored_hits(idx, terms).collect(), "page_skip")
    assert 0 < got <= 2 * m * len(files) * POSTINGS_PAGE_ROWS < rows, (got, rows)


def test_manifest_schema_read_equals_inferred(spark, paged_index):
    """Every stage's manifest records its schema; reading the stage
    with it gives exactly the inferred schema, nullability included."""
    for stage in STAGES:
        path = os.path.join(paged_index.path, stage)
        schema = stage_schema(path)
        assert schema is not None, stage
        given = catalog.read_stage(spark, path, schema).schema
        assert given == spark.read.parquet(path).schema, stage


def test_url_lookup_branches_agree(spark, paged_index):
    """The Spark branch of the url lookup (for non-parquet stages),
    forced over the parquet tokens stage, returns the pyarrow branch's
    urls in the requested order."""
    tokens = os.path.join(paged_index.path, "tokens")
    ids = [511, 3, 42, 0, 599, 256]
    got = catalog.stage_urls(spark, tokens, ids)
    assert got == catalog.spark_stage_urls(spark, tokens, ids)
    by_id = {r["doc_id"]: r["url"] for r in paged_index.doc_lengths.collect()}
    assert got == [by_id[d] for d in ids]


def test_missing_url_raises(spark, tmp_path):
    """A result doc with no tokens row fails loudly, naming the id, in
    both engines: no row may carry a missing url."""
    out = str(tmp_path / "idx")
    build_index(spark, reference_fixture(spark), out, corpus_fingerprint="fix3")
    top = free_query(SearchIndex.load(spark, out), "hello", 10).collect()[0]["doc_id"]
    for f in _parts(os.path.join(out, "tokens")):
        t = pq.read_table(f)
        keep = [d != top for d in t["doc_id"].to_pylist()]
        pq.write_table(t.filter(keep), f)
    with pytest.raises(ValueError, match=f"doc_id {top}$"):
        LocalEngine.load(out)
    with pytest.raises(ValueError, match=f"doc_id {top}$"):
        free_query(SearchIndex.load(spark, out), "hello", 10)
