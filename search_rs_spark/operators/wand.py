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

Exact-top-k protocol (one bounded span collect, then two bounded
passes; no full-metadata collect — the driver holds at most
COVERAGE_FACTOR * k + MAX_LITERAL_BLOCKS + 1 span rows):
1. coverage: the highest-ub spans, taken in ub order until they hold
   COVERAGE_FACTOR * k docs of their rarest present query term (a head
   term's docs would drag theta down to head-only scores), are scored
   exactly by free_query's own top-k statement (:func:`bm25.top_k`);
   the k-th best score is theta;
2. every other span whose ub clears theta (see :func:`theta_floor`) is
   scored the same way, and the two top-ks merge.
   Both block-id sets (the coverage set and the survivors) are inlined
   as a literal ``block_id IN`` scan filter (parquet page and row-group
   stats skip the pruned blocks' array columns entirely — the IO win
   pruning exists for). A set over MAX_LITERAL_BLOCKS hands the query
   to the exhaustive scorer instead.

Safety: every doc's true score <= its span's ub, so a span with
ub < theta cannot contribute a doc at or above the k-th best
(>= keeps spans that could win a doc_id tie-break at exactly theta) —
up to rounding, which :func:`theta_floor` absorbs.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bm25 import (
    bind_terms,
    empty_result,
    free_query,
    materialize_topk,
    resolve_query_terms,
    sql_double,
    top_k,
)
from .window_score import U32_MAX, WINDOW_SCORE_MULTIPLIER

COVERAGE_FACTOR = 4

# pre-gates (see free_query_wand, zero-job from the dfs and per-term
# block counts): the block protocol only runs when the span pool is big
# enough that pruning CAN pay.
SPAN_GATE_FACTOR = 2  # need > this x coverage target spans
BLANKET_FRACTION = 0.95  # bail when >= this holds all terms

# pre-gate (absolute volume, zero-job): the exhaustive scorer explodes
# exactly sum(df over distinct query terms) posting rows in ONE job
# chain; the protocol's span collect and two bounded passes are a
# handful of extra jobs of fixed structure. Below this volume the
# single pass is cheaper than the structure even when pruning would
# skip 90% of spans (measured: 1M-doc planted-rare-term corpus, sum_df
# ~= 1M, exhaustive 3.4-4.1 s vs protocol 7.3 s despite ~10%
# survivors). Calibrated to
# ~1M rows/s/core single-pass scoring on this class of hardware; the
# span bounds handle the can-pruning-bite question, this one handles
# is-there-enough-work-to-prune.
MIN_PRUNABLE_POSTINGS = 4_000_000

# block restrictions inline as a literal (row-group-prunable) scan
# filter of at most this many ids (see scored_hits); a larger coverage
# set or survivor set hands the query to the exhaustive scorer. Bounds
# plan-compile cost and the span rows collected.
MAX_LITERAL_BLOCKS = 2048

# relative margin under theta that a span's ub may sit and still be
# scored: the bound and the score it bounds round differently
# (block_max divides each posting's contribution by doc_len before idf
# multiplies it; the scorer multiplies by idf, sums, then divides by
# doc_len), so a span's ub can come out an ulp below its best doc's
# score. Far above double epsilon; a span kept by the margin alone
# costs only work, never rank identity.
THETA_REL_EPS = 1e-12


def theta_floor(theta: float) -> float:
    """The protocol's keep line: a span is scored iff its ub >= this."""
    return theta - THETA_REL_EPS * abs(theta)


def span_upper_bounds(index, terms: list[tuple[int, str, int]]) -> DataFrame:
    """(block_id, ub, cover) for every doc-id span touched by the query
    terms — metadata columns only, arrays never read. ``cover`` is the
    doc count (df_block) of the span's rarest present query term."""
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
        f"THEN {full} ELSE {eps} END AS ub, cover FROM ("
        "SELECT block_id, sum(idf * block_max * mult) AS ub_bm, "
        "count(DISTINCT term) AS n_terms, min(df_block) AS cover "
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

    Past the gates, one collect gathers the spans in ub order (at most
    ``COVERAGE_FACTOR * k + MAX_LITERAL_BLOCKS + 1`` rows); the coverage
    prefix and the pass-2 survivors are cut from them on the driver.
    Either set over MAX_LITERAL_BLOCKS hands the query to the exhaustive
    scorer; under the cap each pass is a literal ``block_id IN`` scan
    that reads a subset of what the exhaustive scorer would.

    ``force_protocol=True`` skips the pre-gates (tests pin the
    protocol's rank-identity directly); the literal cap still holds.
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

    # one collect: the spans in ub order, enough of them for the coverage
    # prefix (each span covers >= 1 doc, so at most `target` rows) and
    # for every survivor the literal pass 2 can take, plus one more to
    # tell a full survivor list from a cut one
    spans = [
        (int(r["block_id"]), r["ub"], int(r["cover"]))
        for r in span_upper_bounds(index, terms)
        .orderBy(F.desc("ub"), F.asc("block_id"))
        .limit(target + MAX_LITERAL_BLOCKS + 1)
        .collect()
    ]

    # ---- pass 1: the coverage set ----------------------------------------
    n_first = covered = 0
    while n_first < len(spans) and covered < target:
        covered += spans[n_first][2]
        n_first += 1
    if n_first > MAX_LITERAL_BLOCKS:
        return free_query(index, query, k)
    first = sorted(b for b, _, _ in spans[:n_first])
    first_top = top_k(index, terms, k, first).collect()
    theta = first_top[-1]["score"] if len(first_top) >= k else float("-inf")

    # ---- pass 2: every other span that could still alter the top-k ------
    # the rows are in ub order, so the survivors are the rows after the
    # prefix down to the first one under the floor; if the collect's
    # limit cut them off, there are more than MAX_LITERAL_BLOCKS
    floor = theta_floor(theta)
    second = []
    for b, ub, _ in spans[n_first:]:
        if ub < floor:
            break
        second.append(b)
    if len(second) > MAX_LITERAL_BLOCKS:
        return free_query(index, query, k)
    # the two passes score disjoint span sets exactly, so the merged
    # top-k of their top-ks is the exact top-k; no survivor, no job
    second_top = top_k(index, terms, k, sorted(second)).collect() if second else []
    merged = sorted(
        list(first_top) + list(second_top),
        key=lambda r: (-r["score"], r["doc_id"]),
    )[:k]
    return materialize_topk(index, merged)
