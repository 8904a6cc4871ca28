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
4. per-doc aggregation: sum of contributions, then the reference's
   non-standard renormalization ``/ doc_len`` (mod.rs:186), plus the
   minimal-window score over collected per-token positions
   (mod.rs:255-286), combined 3*window + bm25 (mod.rs:284-285).
5. distributed top-k: ``ORDER BY score DESC, doc_id LIMIT k``
   (TakeOrderedAndProject — the heap of heap.rs:32-63; ties broken by
   doc_id, which the reference leaves unspecified).

No RDDs, no driver-side scoring: the only collect is the final k rows.
``doc_len`` rides inside the postings blocks, so scoring requires no
join against doc_lengths; the url materialization joins only the k
winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize, tokenize_and_stem
from ..plans.build import BM25_B, BM25_K1
from .window_score import BM25_SCORE_MULTIPLIER

NUM_RESULTS = 100  # search/src/main.rs:10

# below this corpus size the two-stage prefilter's extra theta pass
# costs more than exhaustively window-scoring the whole conjunction —
# the bound work only pays off once the conjunction set is large
PREFILTER_MIN_DOCS = 200_000

# all-head-terms fused plan gate: when the Bonferroni lower bound on the
# conjunction size (sum(df) - (m-1)*N over the m distinct terms — free,
# from driver-side dfs) says the conjunction is at least this fraction
# of the corpus, the theta prefilter cannot prune enough to pay for its
# second scan+explode+positions shuffle, so score_candidates takes the
# single-pass FUSED plan instead (one explode, one aggregate carrying
# the position arrays next to the bm sums, no theta job, no persist)
FUSED_CONJ_FRACTION = 0.25
# heuristic extension of the same gate: the independence estimate
# N * prod(df_i/N) of the conjunction size. Measured (min-of-N,
# interleaved, rank-identical): a 5-head-term query (est 7.3e-4)
# runs 1.8x faster fused at 1M docs (3.2 s vs 5.9 s) and 1.23x at
# 10M (22.6 s vs 27.8 s) — the two-stage plan's second scan+explode
# and theta job cost more than the wider positions shuffle. Term
# co-occurrence in real text is positively correlated, so the
# estimate UNDERSTATES the conjunction: errors only keep the
# two-stage path, never mis-fuse a prunable query. Below the
# threshold the two-stage path is kept on SCALE grounds, not local
# measurement: a rare+ubiquitous planted query (est 5e-5) still ran
# slightly faster fused at 1M (3.0 s vs 3.9 s) because the avoided
# jobs outweigh the positions shuffle at that size — but fused
# shuffles O(sum df) position arrays where two-stage shuffles
# O(theta survivors), a gap that grows linearly with the corpus
# while the avoided job overhead stays constant; at the target
# 10^12-doc scale a "the cobaltunicorn" query must not shuffle the
# whole corpus's "the" positions.
FUSED_CONJ_EST_FRACTION = 2e-4


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


def _score_fused(
    e: DataFrame,
    num_tokens: int,
    n_fragments: int | None = None,
    batch: bool = False,
) -> DataFrame:
    """Single-pass scoring for corpus-sized conjunctions: ONE explode,
    ONE aggregate that carries the per-(doc, qid) position arrays next
    to the bm sums, window computed straight off the aggregated arrays.

    vs the two-stage prefilter this removes the second postings
    scan+explode, the second per-doc shuffle, the theta top-k job and
    the persist — at the cost of shuffling every candidate's position
    arrays instead of only the theta survivors'. That trade wins
    exactly when theta cannot prune, i.e. the head-query regime the
    FUSED_CONJ_FRACTION gate detects. Scores are bit-identical to the
    split plan: a doc missing a query token id gets the same closed
    form ``3*nt/U32_MAX + bm/dl`` (the window expression yields
    U32_MAX there), a conjunction doc the same ``3*nt/window + bm/dl``.
    """
    from .window_score import U32_MAX, WINDOW_SCORE_MULTIPLIER

    # the aggregate buffers its partition's (qid, positions) fragments
    # in collect_list state — the same per-partition-fragment-count
    # memory shape as the build's postings stage, so it sizes its
    # shuffle the same way (plans/build.py POSTINGS_FRAGMENTS_PER_
    # PARTITION): n_fragments = sum(df) over the query tokens counts
    # the exploded rows exactly and is known driver-side for free. Only
    # active when the data-sized count EXCEEDS the session conf (a
    # head-term query over a 10^9+-doc corpus); at or below the conf
    # the plan is untouched. The explicit repartition on a subset of
    # the grouping keys satisfies the aggregate's distribution, so no
    # second exchange appears (plan-pinned in test_resume_and_plans).
    if n_fragments is not None:
        from ..plans.build import postings_shuffle_partitions

        conf_parts = int(
            e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        parts = postings_shuffle_partitions(n_fragments, conf_parts)
        if parts > conf_parts:
            e = e.repartition(parts, "doc_id", "dl")
    agg = e.groupBy("doc_id", "dl").agg(
        F.sum("bm").alias("bm_sum"),
        F.collect_list("qid").alias("qids"),
        F.collect_list("positions").alias("ps"),
    )
    eps = WINDOW_SCORE_MULTIPLIER * num_tokens / U32_MAX
    bm_norm = BM25_SCORE_MULTIPLIER * F.col("bm_sum") / F.col("dl")
    # one row per (term, doc) upstream, so qids holds distinct ids
    is_conj = F.size("qids") == num_tokens
    score = (
        F.when(is_conj, _window_col(num_tokens, batch=batch)).otherwise(F.lit(eps))
        + bm_norm
    )
    return agg.select("doc_id", score.alias("score"))


def _window_col(num_tokens: int, batch: bool = False):
    """Window-score Column over the aggregated (qids, ps) shape.

    Both kernels are bit-identical to ``3 * nt / min_window``
    (property-pinned in tests/test_window_score_units.py):

    - the HOF (default): JVM-side SQL higher-order-function expression —
      no Python workers in the query path.
    - ``batch=True``: Arrow-batched numpy kernel vectorised
      across the whole batch (one lexsort + one segmented accumulate per
      batch). The fused gate picks it for corpus-sized conjunctions,
      where it measured 6-11% faster than the HOF (BASELINE.md round-4
      addendum).
    """
    from pyspark.sql import functions as F

    if batch:
        from .window_score import window_score_batch_udf

        return window_score_batch_udf(num_tokens)(F.col("qids"), F.col("ps"))
    from .window_score import window_score_expr

    return window_score_expr("qids", "ps", num_tokens)


def score_candidates(
    index,
    terms: list[tuple[int, str, int]],
    blocks: "DataFrame | list[int] | None" = None,
    k: int | None = None,
    cleanup: list | None = None,
    prefilter: bool | None = None,
    fused: bool | None = None,
) -> DataFrame:
    """-> (doc_id, score): exact combined scores of candidate docs.

    Split evaluation: a doc missing any query token id has window =
    u32::MAX (mod.rs:256), so its exact score is the closed form
    ``3*nt/U32_MAX + bm_sum/dl`` — no positions shuffle, no Python.
    Only docs containing ALL query token ids (the conjunction set)
    aggregate their positions and run the window UDF.

    ``k`` enables the two-stage top-k prefilter that bounds the
    all-head-terms worst case (conjunction ≈ whole corpus):

    - lower bound per doc, from metadata alone: a conjunction doc's
      covering window fits inside the doc, so ``window <= dl`` and
      ``lb = bm/dl + 3*nt/dl``; a partial doc's closed form IS exact.
    - theta = the k-th largest lower bound (one TakeOrderedAndProject
      over slim (doc_id, lb) rows — no positions read).
    - upper bound per conjunction doc: ``window >= n_distinct``
      (distinct terms occupy distinct positions; duplicate query tokens
      share positions), so ``ub = bm/dl + 3*nt/n_distinct``. Docs with
      ``ub < theta`` are strictly below >= k other docs' true scores
      and are DROPPED — only survivors pay the positions shuffle and
      the window UDF. Top-k output is provably identical.

    With ``k`` set the caller must pass ``cleanup`` and unpersist its
    entries once the result is materialized (the candidate aggregate is
    persisted because theta and the final pass both consume it).

    ``prefilter``: None (default) auto-enables the two-stage protocol
    only for corpora of >= PREFILTER_MIN_DOCS docs — below that the
    theta pass costs more than it saves (measured: +1.3 s/query at
    5k docs, -12 s on the 1M-doc all-head worst case). True/False
    force it either way (tests force True on small corpora).

    ``fused``: None (default) auto-selects the single-pass fused plan
    (:func:`_score_fused`) when the zero-cost Bonferroni bound proves
    the conjunction is >= FUSED_CONJ_FRACTION of the corpus — the
    regime where theta provably cannot prune its pass's cost back.
    True forces it (tests), False disables.
    """
    from .window_score import U32_MAX, WINDOW_SCORE_MULTIPLIER

    num_tokens = len(terms)
    n_distinct = len({t for _, t, _ in terms})
    e = scored_hits(index, terms, blocks=blocks)

    if prefilter is None:
        auto_prefilter = index.num_docs >= PREFILTER_MIN_DOCS
    else:
        auto_prefilter = prefilter
    if (
        fused is not False
        and k is not None
        and auto_prefilter
        and blocks is None
        and n_distinct > 1
    ):
        dfs = {t: df for _, t, df in terms}
        n = max(index.num_docs, 1)
        conj_lb = sum(dfs.values()) - (len(dfs) - 1) * n
        conj_est = float(n)
        for df in dfs.values():
            conj_est *= df / n
        corpus_sized = (
            conj_lb >= FUSED_CONJ_FRACTION * n
            or conj_est >= FUSED_CONJ_EST_FRACTION * n
        )
        if fused or corpus_sized:
            # the same signal that picks the fused plan also picks its
            # window kernel: for corpus-sized conjunctions the batch
            # numpy kernel measured 6-11% faster than the HOF (one
            # lexsort + one segmented accumulate amortized over the
            # whole Arrow batch); everywhere else HOF stays the default
            # so the query path runs without Python workers
            return _score_fused(
                e,
                num_tokens,
                n_fragments=sum(df for _, _, df in terms),
                batch=corpus_sized,
            )
    flags = e.groupBy("doc_id", "dl").agg(
        F.sum("bm").alias("bm_sum"), F.countDistinct("qid").alias("nq_present")
    )
    eps = WINDOW_SCORE_MULTIPLIER * num_tokens / U32_MAX
    bm_norm = BM25_SCORE_MULTIPLIER * F.col("bm_sum") / F.col("dl")
    is_conj = F.col("nq_present") == num_tokens

    if k is not None and auto_prefilter:
        assert cleanup is not None, "k-pruned scoring needs a cleanup list"
        flags = flags.persist()
        cleanup.append(flags)
        lb = flags.select(
            "doc_id",
            (
                bm_norm
                + F.when(
                    is_conj,
                    F.lit(WINDOW_SCORE_MULTIPLIER * num_tokens) / F.col("dl"),
                ).otherwise(F.lit(eps))
            ).alias("lb"),
        )
        kth = lb.orderBy(F.desc("lb"), F.asc("doc_id")).limit(k).collect()
        theta = kth[-1]["lb"] if len(kth) >= k else float("-inf")
        conj = flags.filter(
            is_conj
            & (
                bm_norm + F.lit(WINDOW_SCORE_MULTIPLIER * num_tokens / n_distinct)
                >= F.lit(theta)
            )
        )
    else:
        conj = flags.filter(is_conj)

    partial = flags.filter(~is_conj).select(
        "doc_id", (F.lit(eps) + bm_norm).alias("score")
    )
    # single-distinct-term queries (incl. duplicated tokens): every
    # conjunction doc's covering window is exactly 1 (all query token
    # ids share the term's position list, so [p, p] covers them), so
    # the window component is the closed form 3.0 * nt — no positions
    # aggregate, no extra shuffle, no window computation at all
    if n_distinct == 1:
        conj_scored = conj.select(
            "doc_id",
            (F.lit(WINDOW_SCORE_MULTIPLIER * num_tokens) + bm_norm).alias("score"),
        )
        return partial.unionAll(conj_scored)

    # aligned (qid, positions-array) lists per doc: two collect_lists in
    # one aggregate see rows in the same order. The position ARRAYS ride
    # the shuffle unexploded (a handful of rows per doc instead of one
    # row per position).
    tpos = (
        e.join(conj.select("doc_id"), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.collect_list("qid").alias("qids"),
            F.collect_list("positions").alias("ps"),
        )
    )
    wscore = _window_col(num_tokens)
    conj_scored = conj.join(tpos, "doc_id").select(
        "doc_id", (wscore + bm_norm).alias("score")
    )
    return partial.unionAll(conj_scored)


TOPK_SCHEMA = "doc_id bigint, score double"


def materialize_topk(index, rows) -> DataFrame:
    """k winner rows (driver-side) -> (doc_id, url, score) DataFrame."""
    spark = index.spark
    topk = spark.createDataFrame(
        [(int(r["doc_id"]), float(r["score"])) for r in rows], TOPK_SCHEMA
    )
    return (
        index.doc_lengths.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "url", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def free_query(
    index, query: str, k: int = NUM_RESULTS, plan_cache: bool = True
) -> DataFrame:
    """-> DataFrame (doc_id, url, score), score-desc / doc_id-asc, k rows.

    Small corpora (< PREFILTER_MIN_DOCS) stay one fully lazy plan —
    single Spark action when the caller collects. Large corpora run the
    two-stage prefilter EAGERLY: the k winners are materialized inside
    the call (they are the only rows that ever reach the driver) so the
    prefilter's persisted candidate aggregate releases
    deterministically.

    ``plan_cache`` (small-corpus path): reuse the analyzed lazy plan
    for a repeated (query, k) — and, via AQE's per-Dataset query-stage
    memoization, the materialized shuffle stages of a prior collect.
    Results are identical either way (the index is an immutable
    checkpoint). Benchmarks measuring cold query arrival should pass
    False: a cache-hit collect measures shuffle replay, not execution
    (bench.py does; the server's repeated-query regime is exactly
    where True is the honest setting — the reference server answers
    those from a full RESULT cache, main.rs:123-128).
    """
    terms = resolve_query_terms(index, query)
    if not terms:
        return (
            index.doc_lengths.select("doc_id", "url", F.lit(0.0).alias("score")).limit(0)
        )
    if index.num_docs < PREFILTER_MIN_DOCS:
        # multi-term queries take the fused single-pass shape here too:
        # one aggregate instead of flags+positions (measured at sf0.1,
        # min-of-3: 1.88/1.87/1.90 s -> 1.14/1.03/1.07 s on the bench
        # queries, rank-identical). Single-distinct-term queries keep
        # score_candidates' closed form (no positions aggregate at all).
        # The lazy plan is cached per (query, k) — see
        # SearchIndex.cached_plan.

        def build_plan():
            n_distinct = len({t for _, t, _ in terms})
            scored = (
                _score_fused(
                    scored_hits(index, terms),
                    len(terms),
                    n_fragments=sum(df for _, _, df in terms),
                )
                if n_distinct > 1
                else score_candidates(index, terms)
            )
            topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            return (
                index.doc_lengths.join(F.broadcast(topk), "doc_id")
                .select("doc_id", "url", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
            )

        if not plan_cache:
            return build_plan()
        return index.cached_plan(("free", query, k), build_plan)
    cleanup: list = []
    try:
        rows = (
            score_candidates(index, terms, k=k, cleanup=cleanup, prefilter=True)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
    finally:
        for c in cleanup:
            c.unpersist(blocking=False)
    return materialize_topk(index, rows)
