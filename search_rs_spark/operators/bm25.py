"""Free-text BM25 top-k query (Q1, Q9-Q14).

Spark re-expression of ``Engine::free_query``
(/root/reference/search/src/engine/mod.rs:138-207):

1. tokenize+stem the query with the build-identical preprocessor, then
   spellcheck each token (dropping unmatched ones) — driver side.
2. join the tiny query-terms set against the blocked postings table
   (Catalyst prunes to the query terms' row groups; the query-terms
   side is broadcast).
3. explode postings; per-posting BM25 contribution
   ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` (mod.rs:162-169)
   with the idf computed driver-side from the vocabulary df.
4. ONE per-doc aggregate: sum of contributions, then the reference's
   non-standard renormalization ``/ doc_len`` (mod.rs:186), plus the
   minimal-window score over the collected per-token positions
   (mod.rs:255-286), combined 3*window + bm25 (mod.rs:284-285).
5. distributed top-k: ``ORDER BY score DESC, doc_id LIMIT k``
   (TakeOrderedAndProject — the heap of heap.rs:32-63; ties broken by
   doc_id, which the reference leaves unspecified).

One lazy plan at every corpus size, like the reference's single pass;
pruning at scale is block-max WAND's job (operators/wand.py). No RDDs,
no driver-side scoring: the only collect is the final k rows.
``doc_len`` rides inside the postings blocks, so scoring requires no
join against doc_lengths; the url materialization joins only the k
winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize, tokenize_and_stem
from ..plans.build import BM25_B, BM25_K1, postings_shuffle_partitions
from .window_score import (
    BM25_SCORE_MULTIPLIER,
    U32_MAX,
    WINDOW_SCORE_MULTIPLIER,
    window_score_batch_udf,
    window_score_expr,
)

NUM_RESULTS = 100  # search/src/main.rs:10

# window kernel choice: the Arrow-batched numpy UDF (one lexsort + one
# segmented accumulate per batch) beats the JVM-side HOF only on large
# conjunctions — measured on all-head queries (4 cores, local[4]): up
# to 42% faster at 1M docs, within run-to-run spread at 60k-100k,
# slower at 3k. The Bonferroni bound sum(df) - (m-1)*N over the m
# distinct terms is a free, driver-side floor on the conjunction size;
# below this many docs the HOF keeps the query path free of Python
# workers.
BATCH_WINDOW_MIN_DOCS = 50_000


def resolve_query_terms(index, query: str) -> list[tuple[int, str, int]]:
    """-> [(qid, term, df)]: tokenize, spellcheck, drop unmatched (mod.rs:141-146).

    Uses the in-memory vocabulary when it fits on the driver (the
    reference's approach, vocabulary.rs:44-97); falls back to the
    distributed trigram-join spellcheck for vocabularies beyond the
    driver threshold.

    Query preprocessing must equal build preprocessing (Q1 ≡ B3,
    mod.rs:141-146): an index built with ``stem=False`` gets the
    tokenize-only query path, else terms would never match the
    unstemmed vocabulary."""
    stemmed = bool(index.stats.get("stem", True))
    toks = tokenize_and_stem(query) if stemmed else tokenize(query)
    out = []
    try:
        vocab = index.driver_vocab()
    except RuntimeError:
        from .spellcheck import spellcheck_distributed

        corrected_map = spellcheck_distributed(index.vocabulary, toks)
        corrected_terms = [corrected_map[t] for t in toks if corrected_map.get(t)]
        if not corrected_terms:
            return []
        dfs = {
            r["term"]: r["df"]
            for r in index.vocabulary.filter(
                F.col("term").isin(sorted(set(corrected_terms)))
            ).collect()
        }
        return [(i, t, dfs[t]) for i, t in enumerate(corrected_terms)]
    for tok in toks:
        corrected = vocab.spellcheck_term(tok)
        if corrected is not None:
            _, df = vocab.get(corrected)
            out.append((len(out), corrected, df))
    return out


def scored_hits(
    index,
    terms: list[tuple[int, str, int]],
    blocks: "DataFrame | list[int] | None" = None,
) -> DataFrame:
    """Per-(doc, qid) exploded hits with bm25 contribution columns.

    ``blocks`` restricts to the given posting blocks BEFORE the arrays
    are exploded (block-max WAND's pruned exact pass). Two forms:

    - a bounded ``list[int]`` of block ids becomes a literal IN filter
      folded into the scan predicate: the postings files are sorted by
      (term, block_id) within partitions, so parquet row-group stats +
      the pushed In filter skip the pruned blocks' row groups — the
      positions arrays of skipped blocks are never read or decompressed
      (measured 2x vs the semi-join on a warm 10M-doc scan, more cold).
      Callers must bound the list (wand.py caps at MAX_LITERAL_BLOCKS)
      — an unbounded literal predicate blows up plan compile time.
    - a block_id DataFrame becomes a broadcast LEFT SEMI join — the
      fallback when the surviving-block set is too large to inline
      (it prunes the explode, not the scan).
    """
    spark = index.spark
    # one spark.sql call instead of createDataFrame: the terms table is
    # a handful of rows and createDataFrame's py4j/serialization round
    # trip costs ~0.15 s per query — measurable against a warm sub-2 s
    # query. repr() emits the shortest round-trip decimal and the
    # quoted-string cast (Double.parseDouble, correctly rounded) yields
    # the identical double F.lit would embed. Vocabulary terms are
    # alnum-only (tokenizer contract); quotes escaped defensively.
    rows = ", ".join(
        "({}, '{}', CAST('{!r}' AS DOUBLE))".format(
            int(qid), term.replace("'", "''"), float(index.idf(df))
        )
        for qid, term, df in terms
    )
    qdf = spark.sql(f"SELECT * FROM VALUES {rows} AS t(qid, term, idf)")
    # explicit IN-filter so the parquet scan gets PushedFilters on the
    # term-sorted postings files (row-group skipping), in addition to the
    # broadcast join that attaches qid/idf
    postings = index.postings.filter(
        F.col("term").isin(sorted({t for _, t, _ in terms}))
    )
    if isinstance(blocks, list):
        postings = postings.filter(
            F.col("block_id").isin([int(b) for b in blocks])
        )
    elif blocks is not None:
        postings = postings.join(
            F.broadcast(blocks.select("block_id")), "block_id", "left_semi"
        )
    hits = postings.join(F.broadcast(qdf), "term")
    avgdl = index.avgdl or 1.0

    e = hits.select(
        "qid",
        "idf",
        F.explode(F.arrays_zip("doc_ids", "tfs", "dls", "positions")).alias("p"),
    ).select(
        "qid",
        "idf",
        F.col("p.doc_ids").alias("doc_id"),
        F.col("p.tfs").cast("double").alias("tf"),
        F.col("p.dls").cast("double").alias("dl"),
        F.col("p.positions").alias("positions"),
    )
    return e.withColumn(
        "bm",
        F.col("idf")
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))),
    )


def score_candidates(
    index,
    terms: list[tuple[int, str, int]],
    blocks: "DataFrame | list[int] | None" = None,
) -> DataFrame:
    """-> (doc_id, score): exact combined scores of every doc holding a
    query term (restricted to ``blocks``, see :func:`scored_hits`).

    One explode, one aggregate per doc. A single distinct term
    (duplicated tokens included) gives every hit doc all query token
    ids on one shared position list, so its covering window is 1 and
    the score is the closed form ``3*nt + bm_sum/dl`` — no positions
    shuffled. Otherwise the aggregate carries aligned (qid, positions)
    lists next to the bm sum: a doc missing a query token id has
    window = u32::MAX (mod.rs:256), so it scores ``3*nt/U32_MAX +
    bm_sum/dl``; a conjunction doc runs the window kernel
    (``3*nt/window + bm_sum/dl``, the HOF or, past
    BATCH_WINDOW_MIN_DOCS, the batch UDF — bit-identical).
    """
    num_tokens = len(terms)
    dfs = {t: df for _, t, df in terms}
    e = scored_hits(index, terms, blocks=blocks)
    # the multi-term aggregate buffers its partition's (qid, positions)
    # fragments in collect_list state — the same memory shape as the
    # build's postings stage, so it sizes its shuffle the same way
    # (POSTINGS_FRAGMENTS_PER_PARTITION): sum(df) over the query tokens
    # counts the exploded rows exactly and is known driver-side for
    # free. At or below the session conf the plan is untouched. The
    # repartition on a subset of the grouping keys satisfies the
    # aggregate's distribution, so no second exchange appears
    # (plan-pinned in test_engine_e2e).
    conf_parts = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = postings_shuffle_partitions(sum(df for _, _, df in terms), conf_parts)
    if parts > conf_parts:
        e = e.repartition(parts, "doc_id", "dl")
    bm_norm = BM25_SCORE_MULTIPLIER * F.col("bm_sum") / F.col("dl")
    if len(dfs) == 1:
        agg = e.groupBy("doc_id", "dl").agg(F.sum("bm").alias("bm_sum"))
        score = F.lit(WINDOW_SCORE_MULTIPLIER * num_tokens) + bm_norm
        return agg.select("doc_id", score.alias("score"))
    # two collect_lists in one aggregate see rows in the same order, so
    # qids[i] owns ps[i]; the position arrays ride the shuffle unexploded
    agg = e.groupBy("doc_id", "dl").agg(
        F.sum("bm").alias("bm_sum"),
        F.collect_list("qid").alias("qids"),
        F.collect_list("positions").alias("ps"),
    )
    conj_lb = sum(dfs.values()) - (len(dfs) - 1) * index.num_docs
    if conj_lb >= BATCH_WINDOW_MIN_DOCS:
        window = window_score_batch_udf(num_tokens)(F.col("qids"), F.col("ps"))
    else:
        window = window_score_expr("qids", "ps", num_tokens)
    eps = WINDOW_SCORE_MULTIPLIER * num_tokens / U32_MAX
    # one row per (qid, doc) upstream, so qids holds distinct ids
    is_conj = F.size("qids") == num_tokens
    score = F.when(is_conj, window).otherwise(F.lit(eps)) + bm_norm
    return agg.select("doc_id", score.alias("score"))


TOPK_SCHEMA = "doc_id bigint, score double"


def _with_urls(index, topk: DataFrame) -> DataFrame:
    """(doc_id, score) winners -> (doc_id, url, score), score-desc /
    doc_id-asc; the broadcast join touches only the k winners."""
    return (
        index.doc_lengths.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def materialize_topk(index, rows) -> DataFrame:
    """k winner rows (driver-side) -> (doc_id, url, score) DataFrame."""
    return _with_urls(
        index,
        index.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in rows], TOPK_SCHEMA
        ),
    )


def free_query(index, query: str, k: int = NUM_RESULTS) -> DataFrame:
    """-> DataFrame (doc_id, url, score), score-desc / doc_id-asc, k rows.

    One lazy plan at every corpus size: :func:`score_candidates`, a
    distributed top-k, then urls for the k winners. Nothing runs until
    the caller collects."""
    terms = resolve_query_terms(index, query)
    if not terms:
        return (
            index.doc_lengths.select("doc_id", "url", F.lit(0.0).alias("score")).limit(0)
        )
    return _with_urls(
        index,
        score_candidates(index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k),
    )
