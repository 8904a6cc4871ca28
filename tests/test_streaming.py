"""Streaming ingest must converge to the same index inputs as batch."""

import os

from pyspark.sql import functions as F

from search_rs_spark.sources.webtext import synthesize_webtext
from search_rs_spark.streaming.ingest import finalize_deltas, start_ingest


def test_stream_equals_batch(spark, tmp_path):
    wt = synthesize_webtext(spark, 60, seed=21, vocab_size=100, mean_len=20)
    in_dir = str(tmp_path / "in")
    # two separate file drops -> at least two stream inputs
    wt.filter(F.col("url") < "https://example.org/21/000000000030").write.parquet(
        in_dir, mode="append"
    )
    wt.filter(F.col("url") >= "https://example.org/21/000000000030").write.parquet(
        in_dir, mode="append"
    )

    delta = str(tmp_path / "delta")
    q = start_ingest(spark, in_dir, delta, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = finalize_deltas(spark, delta)

    # batch equivalent
    from search_rs_spark.functions.tokenizer import tokens_udf

    corpus = wt.filter(F.col("text").isNotNull())
    toks = corpus.select("url", tokens_udf(True)(F.col("text")).alias("tokens"))
    batch_lens = {
        r["url"]: r["dl"]
        for r in toks.select("url", F.size("tokens").alias("dl")).collect()
    }
    stream_lens = {r["url"]: r["doc_len"] for r in out["doc_lengths"].collect()}
    assert stream_lens == batch_lens

    batch_td = (
        corpus.select("url", F.posexplode(tokens_udf(True)(F.col("text"))).alias("pos", "term"))
        .groupBy("url", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    b = {(r["url"], r["term"]): r["tf"] for r in batch_td.collect()}
    joined = out["term_doc"].join(
        out["doc_lengths"].select("doc_id", "url"), "doc_id"
    )
    s = {(r["url"], r["term"]): r["tf"] for r in joined.collect()}
    assert s == b

    # finalize the deltas into a FULL index and compare queries with a
    # batch build over the same corpus
    import math

    from search_rs_spark.operators.bm25 import free_query
    from search_rs_spark.plans.build import build_index, build_index_from_term_doc
    from search_rs_spark.plans.index import SearchIndex

    stream_out = str(tmp_path / "idx_stream")
    build_index_from_term_doc(
        spark, out["doc_lengths"], out["term_doc"], stream_out, fingerprint_hint="s60"
    )
    batch_out = str(tmp_path / "idx_batch")
    build_index(spark, wt, batch_out, corpus_fingerprint="b60")

    si = SearchIndex.load(spark, stream_out)
    bi = SearchIndex.load(spark, batch_out)
    assert si.num_docs == bi.num_docs and si.avgdl == bi.avgdl
    # the finalizer records n_blocks from term_doc: the term's postings
    # row count, and the same vocabulary the batch build writes
    n_blocks = {r["term"]: r["n_blocks"] for r in si.vocabulary.collect()}
    assert n_blocks == {
        r["term"]: r["count"] for r in si.postings.groupBy("term").count().collect()
    }
    assert sorted(si.vocabulary.collect()) == sorted(bi.vocabulary.collect())
    for q in ["the world", "man time year"]:
        sr = [(r["doc_id"], r["score"]) for r in free_query(si, q, 20).collect()]
        br = [(r["doc_id"], r["score"]) for r in free_query(bi, q, 20).collect()]
        assert [d for d, _ in sr] == [d for d, _ in br]
        for (_, a), (_, c) in zip(sr, br):
            assert math.isclose(a, c, rel_tol=1e-9)


def test_replayed_batches_do_not_duplicate(spark, tmp_path):
    """foreachBatch is at-least-once: a full replay into the same delta
    dir (fresh checkpoint, same input) must not inflate tf/df or
    duplicate doc rows."""
    wt = synthesize_webtext(spark, 40, seed=5, vocab_size=80, mean_len=15)
    in_dir = str(tmp_path / "in")
    wt.write.parquet(in_dir, mode="append")

    delta = str(tmp_path / "delta")
    start_ingest(spark, in_dir, delta, str(tmp_path / "ckpt1")).awaitTermination(120)
    first = finalize_deltas(spark, delta)
    lens1 = {r["url"]: r["doc_len"] for r in first["doc_lengths"].collect()}
    td1 = {
        (r["term"], r["doc_id"]): r["tf"] for r in first["term_doc"].collect()
    }

    # replay everything (fresh checkpoint -> all files reprocessed)
    start_ingest(spark, in_dir, delta, str(tmp_path / "ckpt2")).awaitTermination(120)
    second = finalize_deltas(spark, delta)
    lens2 = {r["url"]: r["doc_len"] for r in second["doc_lengths"].collect()}
    td2 = {
        (r["term"], r["doc_id"]): r["tf"] for r in second["term_doc"].collect()
    }
    assert lens2 == lens1
    assert td2 == td1
    # no duplicate doc rows at all
    assert second["doc_lengths"].count() == len(lens1)


def test_recrawled_url_takes_latest_content(spark, tmp_path):
    """A url re-crawled with changed text must contribute only its
    latest doc_len/tf/positions — never a mix of crawls."""
    from search_rs_spark.sources.webtext import WEBTEXT_SCHEMA, _EPOCH, wrap_html

    url = "https://example.org/recrawl.html"
    v1 = "old old old content here"
    v2 = "fresh words entirely different now indeed"
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    delta = str(tmp_path / "delta")

    spark.createDataFrame(
        [(url, _EPOCH, wrap_html(v1), v1, "en")], schema=WEBTEXT_SCHEMA
    ).write.parquet(in_dir, mode="append")
    start_ingest(spark, in_dir, delta, ckpt).awaitTermination(120)

    spark.createDataFrame(
        [(url, _EPOCH, wrap_html(v2), v2, "en")], schema=WEBTEXT_SCHEMA
    ).write.parquet(in_dir, mode="append")
    start_ingest(spark, in_dir, delta, ckpt).awaitTermination(120)

    out = finalize_deltas(spark, delta)
    rows = out["doc_lengths"].collect()
    assert len(rows) == 1 and rows[0]["doc_len"] == 6  # v2 has 6 tokens
    terms = {r["term"] for r in out["term_doc"].collect()}
    from search_rs_spark.functions.tokenizer import tokenize_and_stem

    assert terms == set(tokenize_and_stem(v2))


def test_streamed_nostem_index_stamps_and_queries_correctly(spark, tmp_path):
    """A stem=False streamed corpus, finalized, must record stem=False in
    the index stats and answer queries through BOTH free_query and
    LocalEngine without stemming the query terms (Q1 ≡ B3,
    mod.rs:141-146). Round-3 regression: build_index_from_term_doc
    hard-coded stem=True, so a query for 'lazy' would have been stemmed
    to 'lazi' against an unstemmed vocabulary — silently wrong results."""
    from search_rs_spark.sources.webtext import WEBTEXT_SCHEMA, _EPOCH, wrap_html

    # 'lazy' stems to 'lazi': the query only matches if the stem flag
    # survives the streaming finalizer end to end
    texts = [
        "the lazy dog sleeps in the sun",
        "quick foxes jump over fences",
        "a lazy afternoon with lazy clouds",
    ]
    rows = [
        (f"https://example.org/ns/{i}.html", _EPOCH, wrap_html(t), t, "en")
        for i, t in enumerate(texts)
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA).write.parquet(
        in_dir, mode="append"
    )

    delta = str(tmp_path / "delta")
    start_ingest(
        spark, in_dir, delta, str(tmp_path / "ckpt"), stem=False
    ).awaitTermination(120)
    out = finalize_deltas(spark, delta)

    from search_rs_spark.operators.bm25 import free_query
    from search_rs_spark.operators.serving import LocalEngine
    from search_rs_spark.plans.build import build_index_from_term_doc
    from search_rs_spark.plans.index import SearchIndex

    idx_dir = str(tmp_path / "idx")
    build_index_from_term_doc(
        spark,
        out["doc_lengths"],
        out["term_doc"],
        idx_dir,
        fingerprint_hint="nostem3",
        stem=False,
    )

    si = SearchIndex.load(spark, idx_dir)
    assert si.stats["stem"] is False
    # unstemmed vocabulary: 'lazy' present verbatim, 'lazi' absent
    vocab_terms = {r["term"] for r in si.vocabulary.collect()}
    assert "lazy" in vocab_terms and "lazi" not in vocab_terms

    hits = free_query(si, "lazy", k=10).collect()
    got = {r["url"] for r in hits}
    assert got == {rows[0][0], rows[2][0]}
    # doc 2 has tf=2 for 'lazy' in a shorter doc -> must outrank doc 0
    assert hits[0]["url"] == rows[2][0]

    local = LocalEngine.load(idx_dir)
    assert local.stem is False
    lhits = local.free_query("lazy", k=10)
    assert [(d, u) for d, u, _ in lhits] == [
        (r["doc_id"], r["url"]) for r in hits
    ]
