"""End-to-end build + query tests.

Mirrors the reference e2e test (/root/reference/search/src/engine/
mod.rs:294-323) on its own 3-doc corpus, then checks rank-identity
against the pure-Python oracle on a seeded synthetic corpus.
"""

import math

import pytest

from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.operators.boolean import boolean_query
from search_rs_spark.oracle import build_oracle, oracle_boolean_query, oracle_free_query
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import reference_fixture, synthesize_webtext


@pytest.fixture(scope="module")
def fixture_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_fixture"))
    build_index(spark, reference_fixture(spark), out, min_f=0, max_p=1.0)
    return SearchIndex.load(spark, out)


def test_vocabulary_contents(fixture_index):
    terms = {r["term"]: (r["term_id"], r["df"]) for r in fixture_index.vocabulary.collect()}
    assert set(terms) == {"hello", "man", "world"}
    # sorted rank order
    assert terms["hello"][0] == 0 and terms["man"][0] == 1 and terms["world"][0] == 2
    # intended df semantics (SURVEY §1.4): df of the term itself
    assert terms["hello"][1] == 2 and terms["man"][1] == 2 and terms["world"][1] == 2


def test_doc_ids_are_url_sorted(fixture_index):
    rows = fixture_index.doc_lengths.orderBy("doc_id").collect()
    assert [r["url"] for r in rows] == [
        "test_data/docs/1.txt",
        "test_data/docs/2.txt",
        "test_data/docs/3.txt",
    ]
    assert [r["doc_len"] for r in rows] == [2, 2, 2]
    assert fixture_index.num_docs == 3
    assert fixture_index.avgdl == 2.0


def test_free_query_hello(fixture_index):
    res = free_query(fixture_index, "hello", k=10).collect()
    assert {r["url"] for r in res} == {"test_data/docs/1.txt", "test_data/docs/2.txt"}


def test_boolean_hello_and_not_world(fixture_index):
    res = boolean_query(fixture_index, "hello AND NOT world").collect()
    assert [r["url"] for r in res] == ["test_data/docs/2.txt"]
    assert res[0]["score"] == 1.0


def test_free_query_matches_oracle_on_fixture(fixture_index):
    corpus = [
        ("test_data/docs/1.txt", "hello world"),
        ("test_data/docs/2.txt", "hello man"),
        ("test_data/docs/3.txt", "man world"),
    ]
    oracle = build_oracle(corpus)
    expected = oracle_free_query(oracle, "hello", k=10)
    got = [(r["doc_id"], r["url"], r["score"]) for r in free_query(fixture_index, "hello", 10).collect()]
    assert len(got) == len(expected)
    for (gd, gu, gs), (ed, eu, es) in zip(got, expected):
        assert gd == ed and gu == eu
        assert math.isclose(gs, es, rel_tol=1e-9)


@pytest.fixture(scope="module")
def synth(spark, tmp_path_factory):
    """200-doc seeded Zipfian corpus: Spark index + oracle index."""
    wt = synthesize_webtext(spark, 200, seed=7, vocab_size=300, mean_len=40)
    rows = wt.select("url", "text").collect()
    corpus = [(r["url"], r["text"]) for r in rows]
    out = str(tmp_path_factory.mktemp("idx_synth"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=64)
    return SearchIndex.load(spark, out), build_oracle(corpus)


def _assert_rank_identical(got, expected):
    """Score-identity + rank-identity modulo equal-score permutations."""
    assert len(got) == len(expected), (len(got), len(expected))
    for (gd, gu, gs), (ed, eu, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12), (gd, ed, gs, es)
    # both sides tie-break equal scores by doc_id, so ids must match too
    assert [g[0] for g in got] == [e[0] for e in expected]


QUERIES = [
    "the state of the world",
    "people know time",
    "man work life",
    "good great year",
    "helo wrld",  # exercises spellcheck
    "zzzqqq",  # no candidates at all
    "the the the",  # duplicate tokens
]


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_free(synth, q):
    index, oracle = synth
    expected = oracle_free_query(oracle, q, k=50)
    got = [
        (r["doc_id"], r["url"], r["score"]) for r in free_query(index, q, 50).collect()
    ]
    _assert_rank_identical(got, expected)


BOOL_QUERIES = [
    "the AND state",
    "people OR time",
    "the AND NOT state",
    "(man OR work) AND NOT (life AND good)",
    "NOT zzzqqq AND the",
]


@pytest.mark.parametrize("q", BOOL_QUERIES)
def test_rank_identity_boolean(synth, q):
    index, oracle = synth
    expected = [d for d, u, s in oracle_boolean_query(oracle, q) if u is not None]
    got = [r["doc_id"] for r in boolean_query(index, q).collect()]
    assert got == sorted(got)
    assert got == expected


def test_resume_skips_stages(spark, tmp_path):
    out = str(tmp_path / "idx")
    m1 = build_index(spark, reference_fixture(spark), out)
    m2 = build_index(spark, reference_fixture(spark), out)
    assert any(not m.get("skipped") for m in m1)
    assert all(m.get("skipped") for m in m2 if "stage" in m)


def test_plan_cache_contract(fixture_index):
    """cached_plan semantics: a repeated (query, k) returns the SAME
    analyzed Dataset (plan + AQE stage reuse), plan_cache=False builds
    a fresh plan, and cache hits return identical results to a fresh
    plan."""
    a = free_query(fixture_index, "hello world", k=10)
    b = free_query(fixture_index, "hello world", k=10)
    assert a is b
    fresh = free_query(fixture_index, "hello world", k=10, plan_cache=False)
    assert fresh is not a
    rows = lambda df: [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    assert rows(a) == rows(fresh)
    # boolean side: same-string hit, identical results either way
    x = boolean_query(fixture_index, "hello AND NOT world")
    assert x is boolean_query(fixture_index, "hello AND NOT world")
    assert rows(x) == rows(
        boolean_query(fixture_index, "hello AND NOT world", plan_cache=False)
    )


def test_fused_aggregate_sizes_its_shuffle_from_fragments(fixture_index, monkeypatch):
    """The fused plan's positions-carrying aggregate must size its
    shuffle from sum(df) over the query tokens — same memory shape and
    mechanism as the build's postings stage. Below the conf the plan is
    untouched; above it exactly ONE data-sized exchange feeds the
    aggregate, and results are identical either way."""
    from search_rs_spark.operators.bm25 import _score_fused, scored_hits
    from search_rs_spark.plans import build as bmod

    terms = [(0, "hello", 2), (1, "world", 2)]
    rows = lambda df: sorted(
        (r["doc_id"], round(r["score"], 9)) for r in df.collect()
    )
    plain = _score_fused(scored_hits(fixture_index, terms), 2, n_fragments=4)
    # 4 fragments < 4M threshold -> no data-sized repartition appears
    # (on this tiny fixture the coalesced single-partition scan already
    # satisfies the aggregate's distribution, so NO exchange at all)
    assert (
        "Exchange hashpartitioning"
        not in plain._jdf.queryExecution().executedPlan().toString()
    )

    # force the data-sized count above the conf
    monkeypatch.setattr(bmod, "POSTINGS_FRAGMENTS_PER_PARTITION", 1)
    sized = _score_fused(scored_hits(fixture_index, terms), 2, n_fragments=500)
    plan = sized._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "500" in plan  # the data-sized partition count reached the exchange
    assert rows(sized) == rows(plain)
