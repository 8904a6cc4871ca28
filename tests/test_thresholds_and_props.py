"""df-threshold builds (min_f / max_p incl. integer truncation) must be
rank-identical to the oracle end-to-end, plus hypothesis property tests
for the codecs."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_rs_spark.functions.codecs import (
    BitReader,
    BitWriter,
    decode_postings,
    encode_postings,
)
from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.oracle import build_oracle, oracle_free_query
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import synthesize_webtext


@pytest.fixture(scope="module")
def thresholded(spark, tmp_path_factory):
    """max_p=0.5 drops head terms; min_f=1 drops hapaxes (builder.rs:115-123)."""
    wt = synthesize_webtext(spark, 180, seed=23, vocab_size=220, mean_len=40)
    corpus = [(r["url"], r["text"]) for r in wt.select("url", "text").collect()]
    out = str(tmp_path_factory.mktemp("idx_thr"))
    build_index(spark, wt, out, min_f=1, max_p=0.5, corpus_fingerprint="thr180")
    return SearchIndex.load(spark, out), build_oracle(corpus, min_f=1, max_p=0.5)


def test_threshold_vocabulary_matches_oracle(thresholded):
    idx, oracle = thresholded
    got = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocabulary.collect()}
    assert sorted(got) == oracle.terms
    for i, t in enumerate(oracle.terms):
        assert got[t] == (i, oracle.dfs[i]), t
    # head terms ("the") must be gone at max_p=0.5 on this corpus
    assert "the" not in got


def test_df_filter_bounds_on_a_hand_built_corpus(spark, tmp_path):
    """Both sides of ``min_f < df <= floor(N*max_p)`` (builder.rs:115-123)
    at their edges: N = 20, min_f = 2, max_p = 0.55 -> threshold 11.
    A term with df = min_f is dropped and df = min_f + 1 kept; df = 11
    is kept and df = 12 dropped. The vocabulary, n_blocks included,
    must equal the oracle's."""
    from search_rs_spark.sources.webtext import WEBTEXT_SCHEMA, _EPOCH, wrap_html

    n, min_f, max_p, block_span = 20, 2, 0.55, 4
    planted = {"zebra": 2, "quokka": 3, "walrus": 11, "falcon": 12}
    assert int(n * max_p) == 11
    corpus = []
    for i in range(n):
        # spread each planted term over the docs so its blocks vary
        words = [t for t, df in planted.items() if (i * 7) % n < df]
        corpus.append((f"https://t.local/{i:04d}.txt", " ".join(["otter"] + words)))
    rows = [(u, _EPOCH, wrap_html(t), t, "en") for u, t in corpus]
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path / "idx")
    build_index(
        spark, wt, out, min_f=min_f, max_p=max_p, block_span=block_span,
        corpus_fingerprint="dfedges20",
    )
    idx = SearchIndex.load(spark, out)
    oracle = build_oracle(corpus, min_f=min_f, max_p=max_p)

    assert oracle.terms == ["quokka", "walrus"]
    assert oracle.dfs == [3, 11]
    want = {
        t: (i, oracle.dfs[i], len({d // block_span for d, _, _ in oracle.postings[t]}))
        for i, t in enumerate(oracle.terms)
    }
    got = {
        r["term"]: (r["term_id"], r["df"], r["n_blocks"])
        for r in idx.vocabulary.collect()
    }
    assert got == want


@pytest.mark.parametrize("q", ["people know state", "the world time", "man year"])
def test_threshold_rank_identity(thresholded, q):
    idx, oracle = thresholded
    expected = oracle_free_query(oracle, q, k=30)
    got = [
        (r["doc_id"], r["score"]) for r in free_query(idx, q, 30).collect()
    ]
    assert [d for d, _ in got] == [d for d, _, _ in expected]
    for (gd, gs), (ed, eu, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 31) - 2), max_size=60))
def test_gamma_vbyte_roundtrip_property(values):
    w = BitWriter()
    for v in values:
        w.write_gamma(v)
        w.write_vbyte(v)
    r = BitReader(w.to_bytes(pad_to=16))
    for v in values:
        assert r.read_gamma() == v
        assert r.read_vbyte() == v


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1 << 20),
            st.integers(min_value=1, max_value=50),
        ),
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_postings_blob_roundtrip_property(entries):
    entries.sort()
    doc_ids = [d for d, _ in entries]
    tfs = [tf for _, tf in entries]
    positions = [sorted(range(0, tf * 3, 3)) for _, tf in entries]
    blob = encode_postings(doc_ids, tfs, positions)
    assert decode_postings(blob) == (doc_ids, tfs, positions)
