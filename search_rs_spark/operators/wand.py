"""Block-max WAND pruning for top-k BM25+window queries.

New capability on top of the reference (SURVEY.md §2.5): safe top-k
pruning that stays rank-identical to the exhaustive scorer
(operators/bm25.py). Classic block-max WAND (Ding & Suel, SIGIR 2011)
adapted to the combined score of mod.rs:284-285:

    score(d) = 3.0 * num_tokens / window(d) + bm25(d) / doc_len(d)

Upper bound per doc-id block span (build-time metadata, zero array
reads — the postings arrays are column-pruned away in the bound pass):

    ub(span) = sum over query terms present in the span of
               idf_t * mult_t * block_max_t   (block_max folds /doc_len)
             + 3.0 * num_tokens / n_distinct  if ALL distinct query terms
                                              have postings in the span
             + 3.0 * num_tokens / 2^32        otherwise (window stays
                                              u32::MAX -> epsilon bonus)

The all-terms-present window bonus is ``3.0 * num_tokens / n_distinct``,
NOT a flat 3.0: duplicate query tokens (e.g. "the the time") share
positions, so the minimal covering window can be as small as the number
of DISTINCT terms, and the true window component reaches
``3.0 * num_tokens / n_distinct`` (= 3.0 only when all tokens are
distinct). A flat 3.0 would under-bound duplicate-token queries and
make pruning unsafe.

Exact-top-k protocol (two bounded passes; no full-metadata collect —
the driver holds at most a bounded set of block ids):
1. the coverage set = highest-ub spans whose cumulative doc coverage
   reaches COVERAGE_FACTOR * k, picked via distributed top-N
   (TakeOrderedAndProject over at most COVERAGE_FACTOR*k slim rows —
   every span holds >= 1 doc, so the top COVERAGE_FACTOR*k spans always
   suffice) + a cumulative-sum window over that bounded set; its ids
   are collected, the spans scored exactly, and the running k-th best
   score is theta;
2. exactly score every remaining span with ub >= theta (provably the
   only spans that could alter the top-k), merge, and take the top-k.
   Block-id sets up to MAX_LITERAL_BLOCKS (the coverage set and the
   survivors alike) are collected and inlined as a literal scan filter
   (parquet row-group stats skip the pruned blocks' array columns
   entirely — the IO win pruning exists for); larger sets stay a
   broadcast semi join (prunes the explode, not the scan).

Safety: every doc's true score <= its span's ub, so a span with
ub < theta cannot contribute a doc at or above the k-th best
(>= keeps spans that could win a doc_id tie-break at exactly theta).

Measured regime (1M-doc Zipfian corpus, local[16]): the two bounded
passes cost ~8 s vs ~3.6 s for the exhaustive scorer — on this corpus
nearly every span holds all query terms, so the all-terms window bonus
blankets the ub spread and ub >= theta keeps ~99% of spans (243/245
measured): pruning cannot fire, and WAND would pay its pass structure
for nothing. :func:`free_query_wand` therefore COST-GATES the
protocol (see its docstring): exact bounds from the build-time
per-term block counts (vocabulary ``n_blocks``) route such queries to
the exhaustive scorer before any job, so a caller always gets within a
hair of the better plan. The protocol's own regime is corpora where
the per-span metadata scan is far smaller than the posting arrays
(billions of docs / long head-term lists) or score mixes where the
bm25 spread dominates the window bonus; rank-identity with the
exhaustive path holds everywhere (tests/test_wand.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bm25 import (
    bind_terms,
    empty_result,
    free_query,
    materialize_topk,
    resolve_query_terms,
    score_candidates,
    sql_double,
)
from .window_score import U32_MAX, WINDOW_SCORE_MULTIPLIER

COVERAGE_FACTOR = 4

# cost gates (see free_query_wand): the block protocol only runs when
# the span pool is big enough that pruning CAN pay (pre-gates, zero-job
# from the dfs and per-term block counts), and is abandoned when theta
# leaves too many spans alive for it to pay (post-theta gate, one
# aggregate over the slim persisted span-ub table).
SPAN_GATE_FACTOR = 2  # pre-gate: need > this x coverage target spans
BLANKET_FRACTION = 0.95  # pre-gate: bail when >= this holds all terms
SURVIVOR_BAILOUT_FRACTION = 0.5  # post-gate: bail when >= this survives

# pre-gate (absolute volume, zero-job): the exhaustive scorer explodes
# exactly sum(df over distinct query terms) posting rows in ONE job
# chain; the protocol's two bounded passes + the post-theta aggregate
# are a handful of extra jobs of fixed structure. Below this volume the
# single pass is cheaper than the structure even when pruning would
# skip 90% of spans (measured: 1M-doc planted-rare-term corpus, sum_df
# ~= 1M, exhaustive 3.4-4.1 s vs protocol 7.3 s despite ~10%
# survivors). Calibrated to
# ~1M rows/s/core single-pass scoring on this class of hardware; the
# span bounds handle the can-pruning-bite question, this one handles
# is-there-enough-work-to-prune.
MIN_PRUNABLE_POSTINGS = 4_000_000

# block restrictions at or under this many ids inline as a literal
# (row-group-prunable) scan filter; larger sets fall back to the
# broadcast semi-join (see scored_hits). Bounds plan-compile cost.
MAX_LITERAL_BLOCKS = 2048


def span_upper_bounds(index, terms: list[tuple[int, str, int]]) -> DataFrame:
    """(block_id, ub, max_docs) for every doc-id span touched by the
    query terms — metadata columns only, arrays never read."""
    num_tokens = len(terms)
    n_distinct = len({t for _, t, _ in terms})

    # duplicate query tokens score the same term twice (mod.rs:152-179),
    # so the bm25 side of the bound carries a multiplicity per distinct
    # term and the window side caps at num_tokens / n_distinct
    mult: dict[str, int] = {}
    idf_by_term: dict[str, float] = {}
    for _, t, d in terms:
        mult[t] = mult.get(t, 0) + 1
        idf_by_term[t] = float(index.idf(d))
    structs = {
        t: [f"struct({sql_double(idf_by_term[t])}, {mult[t]})"] for t in mult
    }
    full = sql_double(WINDOW_SCORE_MULTIPLIER * num_tokens / n_distinct)
    eps = sql_double(WINDOW_SCORE_MULTIPLIER * num_tokens / U32_MAX)
    return index.spark.sql(
        f"SELECT block_id, ub_bm + CASE WHEN n_terms = {n_distinct} "
        f"THEN {full} ELSE {eps} END AS ub, max_docs FROM ("
        "SELECT block_id, sum(idf * block_max * mult) AS ub_bm, "
        "count(DISTINCT term) AS n_terms, max(df_block) AS max_docs "
        f"FROM {bind_terms(structs, 'idf, mult')} GROUP BY block_id)",
        postings=index.postings,
    )


def free_query_wand(
    index,
    query: str,
    k: int = 100,
    force_protocol: bool = False,
) -> DataFrame:
    """Rank-identical to operators.bm25.free_query, with block pruning.

    Cost-gated: the two-pass block protocol only pays when most spans
    can be skipped, so the query goes to the plain exhaustive scorer
    (identical results by definition) when pruning cannot win:

    - volume (zero-job): if sum(df) over the distinct query terms —
      exactly the posting-row count the exhaustive scorer explodes in
      its single pass — is under MIN_PRUNABLE_POSTINGS, there is not
      enough work for pruning to repay the protocol's multi-job
      structure no matter how well theta prunes (measured: 1M-doc
      rare-term corpus, ~10% survivors, protocol still 2x slower).
    - span bounds (zero-job): with nb(t) the number of doc-id blocks
      term t spans (vocabulary ``n_blocks``, recorded at build), B the
      corpus's block count and m the distinct query terms, the span
      pool is at most ``pool_hi = min(B, sum nb)`` and at least
      ``full_lo = sum nb - (m-1)*B`` spans hold every term (Bonferroni).
      Bail when ``pool_hi <= SPAN_GATE_FACTOR * COVERAGE_FACTOR * k``
      (the coverage set would swallow (nearly) the whole pool — the
      measured 1M-doc regime: 245 spans vs a 400-span coverage target,
      2.3x slower than exhaustive) or when ``full_lo >=
      BLANKET_FRACTION * pool_hi`` (the all-terms window bonus is
      uniform across (nearly) every span, the ub spread is bm-only,
      and block-max slack keeps ~99% of spans above any reachable
      theta — measured 243/245 at 1M docs; 10M-doc protocol 10.6 s vs
      6.5 s exhaustive). Single-term queries (full_lo = pool_hi) and
      head terms (nb = B) always bail; clustered terms keep the
      protocol by their real block counts. Both bounds are exact, so
      neither bails where the measured span table would have kept the
      protocol; the cases they cannot decide run it.
    - post-theta (one aggregate over the persisted span-ub table): if
      >= SURVIVOR_BAILOUT_FRACTION of spans have ub >= theta after pass
      1, restricting pass 2 to survivors still scores almost
      everything while paying the two-pass structure — fall through to
      the exhaustive scorer.

    ``force_protocol=True`` skips every gate (tests pin the protocol's
    rank-identity directly).
    """
    terms = resolve_query_terms(index, query)
    if not terms:
        return empty_result(index)

    target = COVERAGE_FACTOR * k
    if not force_protocol:
        # absolute-volume gate first: the dfs arrived with
        # resolve_query_terms, so this costs nothing
        dfs = {t: df for _, t, df in terms}
        if sum(dfs.values()) <= MIN_PRUNABLE_POSTINGS:
            return free_query(index, query, k)
        nb_sum = sum(index.n_blocks(dfs).values())
        corpus_blocks = -(-index.num_docs // int(index.stats["block_span"]))
        pool_hi = min(corpus_blocks, nb_sum)
        full_lo = nb_sum - (len(dfs) - 1) * corpus_blocks
        if (
            pool_hi <= SPAN_GATE_FACTOR * target
            or full_lo >= BLANKET_FRACTION * pool_hi
        ):
            return free_query(index, query, k)

    span_ub = span_upper_bounds(index, terms).persist()
    try:
        # ---- pass 1: coverage set, picked distributedly -------------------
        # top-N by ub is bounded by COVERAGE_FACTOR*k rows (each span
        # covers >= 1 doc), so the cumulative-sum window below runs over
        # a tiny, driver-independent set. Runs inside the try: the
        # collect is a real Spark job, and a failure here must still
        # unpersist span_ub.
        cand = span_ub.orderBy(F.desc("ub"), F.asc("block_id")).limit(target)
        # Unpartitioned window, intentionally: cand is capped at
        # COVERAGE_FACTOR*k rows by the limit above, so the single-task
        # window is bounded and the `WindowExec: No Partition Defined`
        # warning it emits is expected.
        w = (
            Window.orderBy(F.desc("ub"), F.asc("block_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # the coverage set is bounded by COVERAGE_FACTOR*k rows
        # (collecting the ids is the protocol's pass-1 driver contact,
        # same order of bytes as the k winner rows) — but for k > 512
        # that exceeds MAX_LITERAL_BLOCKS, so the SCAN-side form
        # switches from an inlined IN filter to a broadcast semi-join
        # on a driver-local DataFrame (same ids, no plan-compile or
        # parquet inFilterThreshold blowup); the pass-2 exclusion
        # switches to an anti-join off the same table.
        first_blocks = sorted(
            int(r["block_id"])
            for r in cand.withColumn("cum", F.sum("max_docs").over(w))
            .filter(F.col("cum") - F.col("max_docs") < target)
            .select("block_id")
            .collect()
        )
        if len(first_blocks) <= MAX_LITERAL_BLOCKS:
            first_rep: "list[int] | DataFrame" = first_blocks
            first_df = None
        else:
            first_df = index.spark.createDataFrame(
                [(b,) for b in first_blocks], "block_id long"
            )
            first_rep = first_df
        first_top = (
            score_candidates(index, terms, blocks=first_rep)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        theta = first_top[-1]["score"] if len(first_top) >= k else float("-inf")

        # ---- post-theta gate: does pruning actually bite? -----------------
        # one aggregate over the persisted slim span table; pass-1 work
        # is discarded on bailout (it was bounded by the coverage target)
        if not force_protocol:
            gate = span_ub.agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.count_if(F.col("ub") >= F.lit(theta)).alias("survivors"),
            ).collect()[0]
            if gate["survivors"] >= SURVIVOR_BAILOUT_FRACTION * gate["n_spans"]:
                return free_query(index, query, k)

        # ---- pass 2: every other span that could still alter the top-k ----
        # >= (not >): a doc could score exactly theta and win a doc_id
        # tie-break. The two passes score disjoint span sets exactly, so
        # the merged top-k of their top-ks is the exact top-k.
        remaining = span_ub.filter(F.col("ub") >= F.lit(theta))
        if first_df is None:
            remaining = remaining.filter(~F.col("block_id").isin(first_blocks))
        else:
            remaining = remaining.join(
                F.broadcast(first_df), "block_id", "left_anti"
            )
        remaining = remaining.select("block_id")
        # survivor ids: up to MAX_LITERAL_BLOCKS collect as literals so
        # the pass-2 scan row-group-prunes the skipped blocks (their
        # positions arrays are never read); beyond that, stay a
        # DataFrame semi-join. The limit bounds the driver contact.
        # An empty survivor set also skips pass 2's job chain entirely.
        surv = remaining.limit(MAX_LITERAL_BLOCKS + 1).collect()
        if not surv:
            second_top = []
        else:
            blocks2 = (
                sorted(int(r["block_id"]) for r in surv)
                if len(surv) <= MAX_LITERAL_BLOCKS
                else remaining
            )
            second_top = (
                score_candidates(index, terms, blocks=blocks2)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .collect()
            )
    finally:
        span_ub.unpersist(blocking=False)

    merged = sorted(
        list(first_top) + list(second_top),
        key=lambda r: (-r["score"], r["doc_id"]),
    )[:k]
    return materialize_topk(index, merged)
