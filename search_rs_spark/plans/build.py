"""Index build pipeline: webtext -> inverted-index tables.

Spark-first re-expression of the reference build
(/root/reference/search/src/engine/builder.rs:44-130). The reference
folds the whole corpus into RAM in one process; here every stage is a
shuffle with a checkpointed parquet output:

  tokens       (doc_id, url, doc_len,
                terms, tfs, positions)            rank by url fused with
                                                  the vectorized tokenize
                                                  UDF, which also folds the
                                                  per-doc (term, tf,
                                                  positions) accumulation
                                                  map-side (B1/B3/B5/B6/B7);
                                                  serves doc_lengths (B13)
                                                  via column pruning
  stats        json: num_docs, avgdl, thresholds  zero-job Observation
                                                  (documents.rs:21-38)
  term_doc     (doc_id, doc_len, term, tf, positions)  NARROW inline view
                                                  of tokens — no stage, no
                                                  shuffle (B7)
  vocabulary   (term, term_id, df, n_blocks)      df filter + rank (B8/B9);
                                                  n_blocks = the term's
                                                  postings row count
  postings     (term_id, term, block_id, doc_ids, dls, positions,
                df_block, block_max)              blocked posting lists (B10);
                                                  a posting's tf is
                                                  size(positions); written
                                                  with small pages

Scale decisions:
- doc_id / term_id are range-partitioned global ranks (plans/ranks.py),
  never a single-partition window.
- posting lists are stored BLOCKED by doc_id span (``block_id =
  doc_id // block_span``): a head term ("the", df≈N) becomes N/span
  bounded rows instead of one unboundable array row — this is the
  explicit skew handling for the term-major merge, and the blocks
  carry the per-block max score used by block-max WAND pruning.
- ``doc_len`` is denormalized into the postings (dls) so BM25 scoring
  needs no query-time join against doc_lengths.
- postings files hold 128-row / 16 KiB pages (POSTINGS_WRITE_OPTIONS),
  so a query's pushed term / block_id filter skips whole pages through
  the column index, not just whole row groups.
- each stage's manifest records its schema, so reading a stage back
  runs no schema-inference job (plans/checkpoint.py).
- the (term, doc_id) accumulation happens map-side inside the tokenize
  UDF (a document is one row — its posting fragments need no exchange),
  so the build's only all-to-all shuffles are the term-keyed ones the
  inverted-index transpose genuinely requires: the vocabulary df-count
  and the (term, block) postings groupBy, whose keys are bounded by
  block_span (the explicit head-term skew handling).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import term_pos_udf
from ..operators.window_score import BM25_B, BM25_K1
from .checkpoint import StageRunner, fingerprint
from .ranks import with_global_rank

DEFAULT_BLOCK_SPAN = 4096

# the postings aggregate is the build's one memory-heavy shuffle: each
# task buffers its partition's (term, doc, positions) fragments in
# collect_list state, so the per-partition fragment count — not the
# executor heap — decides whether it fits. sum(df) over the kept
# vocabulary counts those fragments exactly and is known driver-side
# before the stage runs, so the stage sizes its own shuffle as
# ceil(sum_df / this) partitions (never below the session conf).
# Measured, 10M docs / 912M fragments, postings stage only: 64
# partitions (14.2M fragments each) FAILS at 8g heap
# (SparkOutOfMemory in the aggregate, then runaway multi-pass sort
# spill past 44 GB scratch) and runs 518 s at 48g; 256 partitions
# (3.6M each) completes at 8g in 333 s and is no slower at 48g
# (~491 s). 4M fragments/partition ≈ a few hundred MB of aggregate
# state — fits default executor memory with headroom.
POSTINGS_FRAGMENTS_PER_PARTITION = 4_000_000


# the postings stage is written with small parquet pages: a query's
# pushed ``term IN (...)`` (and WAND's ``block_id IN (...)``) filter
# meets the pages' min/max column index, so the scan decodes only the
# pages holding those values instead of every page of a row group.
# Measured on a 3k-doc index (4 cores, warm 3-term queries): free_query
# p50 213 -> 190 ms, for postings of 1.57 -> 1.81 MB.
POSTINGS_PAGE_ROWS = 128
POSTINGS_WRITE_OPTIONS = {
    "parquet.page.row.count.limit": str(POSTINGS_PAGE_ROWS),
    "parquet.page.size": str(16 * 1024),
}


def postings_shuffle_partitions(n_fragments: int, conf_partitions: int) -> int:
    """Partition count for the postings aggregate: data-sized, never
    below the session's configured shuffle parallelism."""
    return max(int(conf_partitions), -(-int(n_fragments) // POSTINGS_FRAGMENTS_PER_PARTITION))


def _block_id(block_span: int):
    return (F.col("doc_id") / block_span).cast("long").alias("block_id")


def _stats(num_docs, total_len, min_f, max_p, stem, block_span) -> dict:
    """The stats json both builds write (documents.rs:21-38)."""
    return {
        "num_docs": int(num_docs),
        "avgdl": (float(total_len or 0) / num_docs) if num_docs else 0.0,
        "min_f": min_f,
        "max_p": max_p,
        "stem": stem,
        "block_span": block_span,
        # builder.rs:115 — note the integer truncation (`as u32`)
        "df_threshold": int(num_docs * max_p),
    }


def build_index(
    spark: SparkSession,
    webtext: DataFrame,
    out_dir: str,
    min_f: int = 0,
    max_p: float = 1.0,
    stem: bool = True,
    lang: str | None = None,
    block_span: int = DEFAULT_BLOCK_SPAN,
    resume: bool = True,
    corpus_fingerprint: str | None = None,
) -> "list[dict]":
    """Build all index tables under ``out_dir``; returns stage metrics.

    ``min_f``/``max_p`` follow builder.rs:115-123: keep term iff
    ``df <= floor(num_docs * max_p) && df > min_f``.
    """
    os.makedirs(out_dir, exist_ok=True)

    corpus = webtext.filter(F.col("text").isNotNull())
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)

    if corpus_fingerprint is None:
        # content digest, not just count: resuming into the same out_dir
        # with same-cardinality but different content must not reuse
        # stale checkpointed stages. Order-independent sums of per-row
        # hashes make the digest partitioning-invariant.
        agg = corpus.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum of 64-bit hashes
            # overflows under ANSI mode
            F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("uh"),
            F.sum(F.xxhash64("text").cast("decimal(38,0)")).alias("th"),
        ).collect()[0]
        corpus_fingerprint = f"{agg['n']}:{agg['uh']}:{agg['th']}"
    fp = fingerprint(
        {
            "corpus": corpus_fingerprint,
            "min_f": min_f,
            "max_p": max_p,
            "stem": stem,
            "lang": lang,
            "block_span": block_span,
            "layout": 9,
        }
    )
    runner = StageRunner(spark, out_dir, fp, resume=resume)

    # -- tokens: doc-id assignment fused with the tokenize pass (B3/B5/B6) --
    # the rank runs over the full (url, text) rows: one range exchange
    # moves the text, the doc_id is a JVM-side per-partition counter +
    # broadcast offsets (plans/ranks.py), and the tokenize UDF runs on
    # the ranked stream — measured faster than ranking slim urls and
    # joining the text back (the join shuffles the text by url hash AND
    # shuffles/broadcasts the rank side, i.e. strictly more data moved).
    # The rank's persisted intermediate holds the corpus text, but the
    # in-memory columnar cache is column-pruned (the offsets aggregate
    # deserializes only the partition-id column) and spills to disk;
    # it is dropped as soon as the stage's checkpoint write lands.
    # Build stats ride along as a zero-job Observation.
    from pyspark.sql import Observation

    obs_holder: list[Observation] = []
    persists: list = []

    def make_tokens():
        ranked = with_global_rank(
            corpus.select("url", "text"), "url", "doc_id", persist_tracker=persists
        )
        toks = (
            ranked.select(
                "doc_id", "url", term_pos_udf(stem)(F.col("text")).alias("tp")
            )
            .select(
                "doc_id",
                "url",
                F.col("tp.terms").alias("terms"),
                F.col("tp.tfs").alias("tfs"),
                F.col("tp.positions").alias("positions"),
            )
            .withColumn("doc_len", F.aggregate("tfs", F.lit(0), lambda a, x: a + x))
        )
        obs = Observation("build_stats")
        obs_holder.append(obs)
        return toks.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("total_len")
        )

    tokens = runner.run("tokens", make_tokens)
    for p in persists:  # the checkpoint write above materialized the stage
        p.unpersist(blocking=False)
    persists.clear()

    # -- stats ---------------------------------------------------------------
    if runner.is_done("stats"):
        stats = runner.read_json("stats")
    else:
        if obs_holder:
            got = obs_holder[0].get
        else:  # tokens stage was resumed; one aggregate over the table
            got = tokens.agg(
                F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("total_len")
            ).collect()[0]
        stats = _stats(got["n"], got["total_len"], min_f, max_p, stem, block_span)
        runner.write_json("stats", stats)

    # doc_lengths is served from the tokens table via parquet column
    # pruning (doc_id/url/doc_len only — the tokens column is never read),
    # so it needs no separate write stage; see SearchIndex.doc_lengths.

    # -- term_doc: per-(term, doc) posting fragments (B7) ---------------------
    # a NARROW view over the tokens table: the per-document (term, tf,
    # positions) aggregation already happened map-side inside the
    # tokenize UDF (a document is one row, so its posting fragments
    # never need an exchange — the posexplode + groupBy(term, doc_id)
    # shuffle of one row per token occurrence is gone entirely). Both
    # consumers re-scan the checkpointed tokens parquet and do their own
    # term-keyed shuffle — the only all-to-all exchanges left in the
    # build. The vocabulary count gets its own (block_id, term) view so
    # the parquet scan reads just the doc_id and terms columns (the
    # positions arrays — the bulk of the table — stay on disk for that
    # pass).
    term_doc = tokens.select(
        "doc_id", "doc_len", F.inline(F.arrays_zip("terms", "tfs", "positions"))
    ).withColumnsRenamed({"terms": "term", "tfs": "tf"})
    term_blocks = tokens.select(_block_id(block_span), F.explode("terms").alias("term"))

    _build_downstream(
        runner, spark, term_doc, stats, min_f, block_span, term_blocks=term_blocks
    )
    return runner.metrics


def _norm_expr(e, avgdl):
    # per-posting BM25 contribution bound (idf excluded; the final
    # /doc_len renormalization of mod.rs:186 is folded in)
    tf = e["tf"].cast("double")
    dl = e["doc_len"].cast("double")
    return (
        tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    ) / dl


def _build_downstream(
    runner, spark, term_doc, stats, min_f, block_span, term_blocks=None
):
    """vocabulary (B8/B9) + blocked postings (B10) from a term_doc table —
    shared by the batch build and the streaming-delta finalizer.

    ``term_blocks``: optional slim (block_id, term) view carrying one row
    per (term, doc) pair — lets the vocabulary scan skip the positions
    arrays; defaults to projecting ``term_doc``."""

    persists: list = []

    def make_vocab():
        src = term_blocks
        if src is None:
            src = term_doc.select(_block_id(block_span), "term")
        # two term-keyed aggregates, each with its map-side partial: the
        # (term, block_id) one collapses a block's docs into one row, so
        # the second exchange moves one row per (term, block) at most.
        # df sums the per-block counts; n_blocks counts the blocks —
        # exactly the term's postings rows, recorded here so the WAND
        # cost gate can bound a query's span pool without a job.
        dfc = (
            src.groupBy("term", "block_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("term")
            .agg(
                F.sum("n").cast("int").alias("df"),
                F.count(F.lit(1)).cast("int").alias("n_blocks"),
            )
        )
        kept = dfc.filter(
            (F.col("df") <= F.lit(stats["df_threshold"])) & (F.col("df") > F.lit(min_f))
        )
        # persist the kept vocabulary table BEFORE ranking: the rank's
        # repartitionByRange samples its input for range boundaries, so
        # without the cache the full explode + df-count aggregation
        # over the corpus runs TWICE (once for sampling, once for the
        # shuffle) — the cached table is one slim row per kept term,
        # orders of magnitude smaller than the corpus at every scale
        # (guide §1.2/§2.4: don't compute the expensive pass twice)
        kept = kept.persist()
        persists.append(kept)
        return with_global_rank(
            kept, "term", "term_id", persist_tracker=persists
        ).select("term", "term_id", "df", "n_blocks")

    vocab = runner.run("vocabulary", make_vocab)
    for p in persists:
        p.unpersist(blocking=False)
    persists.clear()

    def make_postings():
        avgdl = stats["avgdl"] or 1.0
        kept = term_doc.join(vocab.select("term", "term_id", "df"), "term")
        blocked = kept.withColumn("block_id", _block_id(block_span))
        # size this stage's shuffle from the fragment count (sum of kept
        # dfs — one tiny scan of the checkpointed vocabulary) so each
        # task's collect_list state fits executor memory regardless of
        # corpus size; see POSTINGS_FRAGMENTS_PER_PARTITION. The
        # explicit hash partitioning on a subset of the grouping keys
        # satisfies the aggregate's distribution, so no second exchange
        # is inserted.
        n_frag = vocab.agg(F.sum("df")).collect()[0][0] or 0
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        agg_parts = postings_shuffle_partitions(n_frag, conf_parts)
        blocked = blocked.repartition(agg_parts, "term_id", "block_id")
        grouped = blocked.groupBy("term_id", "term", "df", "block_id").agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "doc_len", "positions"))
            ).alias("plist")
        )
        return grouped.select(
            "term_id",
            "term",
            "df",
            "block_id",
            F.expr("transform(plist, x -> x.doc_id)").alias("doc_ids"),
            F.expr("transform(plist, x -> x.doc_len)").alias("dls"),
            F.expr("transform(plist, x -> x.positions)").alias("positions"),
            F.size("plist").alias("df_block"),
            F.array_max(
                F.transform(F.col("plist"), lambda e: _norm_expr(e, avgdl))
            ).alias("block_max"),
        ).repartition(
            # same data-sized count: the per-partition (term, block_id)
            # sort buffers full block rows, the other spill-prone site
            agg_parts,
            F.col("term"),
        ).sortWithinPartitions("term", "block_id")

    runner.run("postings", make_postings, POSTINGS_WRITE_OPTIONS)


def term_doc_fingerprint(
    fingerprint_hint: str,
    min_f: int = 0,
    max_p: float = 1.0,
    block_span: int = DEFAULT_BLOCK_SPAN,
    stem: bool = True,
) -> str:
    """The resume fingerprint of :func:`build_index_from_term_doc` — the
    key a caller caching its output must compare too."""
    return fingerprint(
        {
            "corpus": fingerprint_hint,
            "min_f": min_f,
            "max_p": max_p,
            "block_span": block_span,
            "stem": stem,
            "layout": 8,
        }
    )


def build_index_from_term_doc(
    spark: SparkSession,
    doc_lengths: DataFrame,
    term_doc: DataFrame,
    out_dir: str,
    min_f: int = 0,
    max_p: float = 1.0,
    block_span: int = DEFAULT_BLOCK_SPAN,
    fingerprint_hint: str = "deltas",
    stem: bool = True,
) -> "list[dict]":
    """Finalize pre-aggregated inputs (e.g. streamed deltas,
    streaming/ingest.py) into a complete, queryable index — identical
    tables to :func:`build_index` over the same corpus.

    ``doc_lengths``: (doc_id, url, doc_len); ``term_doc``:
    (term, doc_id, doc_len, tf, positions).

    ``stem`` must state the flag the upstream tokenizer actually ran
    with (e.g. ``start_ingest(stem=...)``): it is recorded in the index
    stats, and query preprocessing (Q1 ≡ B3, mod.rs:141-146) reads it
    to decide whether to stem query terms — a mis-stamped flag makes
    queries silently miss the vocabulary.
    """
    os.makedirs(out_dir, exist_ok=True)
    fp = term_doc_fingerprint(fingerprint_hint, min_f, max_p, block_span, stem)
    runner = StageRunner(spark, out_dir, fp, resume=True)

    # "tokens" table without the tokens column — SearchIndex.doc_lengths
    # reads (doc_id, url, doc_len) from it, LocalEngine (doc_id, url)
    runner.run("tokens", lambda: doc_lengths.select("doc_id", "url", "doc_len"))

    if runner.is_done("stats"):
        stats = runner.read_json("stats")
    else:
        agg = doc_lengths.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("total_len")
        ).collect()[0]
        stats = _stats(agg["n"], agg["total_len"], min_f, max_p, stem, block_span)
        runner.write_json("stats", stats)

    td = runner.run(
        "term_doc",
        lambda: term_doc.select("term", "doc_id", "doc_len", "tf", "positions"),
    )
    _build_downstream(runner, spark, td, stats, min_f, block_span)
    return runner.metrics
