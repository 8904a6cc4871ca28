"""Minimal covering window score (Q11).

Reference: ``Engine::compute_score``
(/root/reference/search/src/engine/mod.rs:255-286). All (position,
query_token_id) pairs of a document are sorted by position; a
two-pointer sweep finds the minimal window containing every distinct
query token id (where the target count is the FULL query token count,
duplicates included — ids are assigned by ``enumerate`` over the
spellchecked query tokens, mod.rs:152). If no window covers all
tokens the window length stays ``u32::MAX`` (4294967295), giving a
near-zero but non-zero score. Final combination (mod.rs:284-285):
``3.0 * num_tokens / window + 1.0 * bm25_normalized``.
"""

from __future__ import annotations

U32_MAX = 4294967295

WINDOW_SCORE_MULTIPLIER = 3.0  # mod.rs:24
BM25_SCORE_MULTIPLIER = 1.0  # mod.rs:25


def min_window(pairs: list[tuple[int, int]], num_tokens: int) -> int:
    """Minimal window length covering all ``num_tokens`` distinct ids.

    ``pairs`` = (position, token_id), unsorted. Returns U32_MAX when
    no window covers all ids (incl. when fewer distinct ids appear).
    """
    arr = sorted(pairs)
    window = U32_MAX
    j = 0
    seen: dict[int, int] = {}
    for pos, _tid in arr:
        seen[_tid] = seen.get(_tid, 0) + 1
        while len(seen) == num_tokens and j < len(arr):
            j_pos, j_id = arr[j]
            window = min(window, pos - j_pos + 1)
            seen[j_id] -= 1
            if seen[j_id] == 0:
                del seen[j_id]
            j += 1
    return window


def combined_score(bm25_normalized: float, pairs, num_tokens: int) -> float:
    w = min_window(pairs, num_tokens)
    return (
        WINDOW_SCORE_MULTIPLIER * (num_tokens / w)
        + BM25_SCORE_MULTIPLIER * bm25_normalized
    )


def min_window_sql(qids: str, ps: str, num_tokens: int) -> str:
    """Spark SQL higher-order-function expression computing the same
    minimal covering window as :func:`min_window` — entirely JVM-side.

    ``qids`` / ``ps`` are COLUMN NAMES (aligned ``array<int>`` /
    ``array<array<int>>``, the shape ``score_candidates`` aggregates).
    The expression is the per-right-endpoint formulation of
    :func:`min_windows_batch`: flatten the per-term position lists into
    (pos, qid) pairs, ``array_sort`` them (struct sort = (pos, qid)
    lexicographic, identical to the batch kernel's lexsort), then one
    ``aggregate`` pass carrying (last-seen position per qid, best).
    For each pair the minimal covering window ENDING at its position
    starts at ``min over qids of last[qid]``; the answer is the min
    over all right endpoints (reference mod.rs:264-281 computes the
    same quantity with a two-pointer sweep). Three specializations by
    query width: nt=2 reduces to adjacent opposite-id pairs (stateless
    zip_with), nt<=8 unrolls the last-seen state into scalar struct
    fields (no per-pair array allocation), and wider queries keep the
    array-state general form.

    Removing the pandas UDF here removes the Arrow round-trip and the
    Python workers from the head-query regime, where the conjunction
    set is corpus-sized — the round-3 scale bottleneck.
    """
    pairs = (
        f"array_sort(flatten(transform(arrays_zip({qids}, {ps}), "
        f"t -> transform(t.{ps}, p -> "
        f"struct(CAST(p AS BIGINT) AS pos, t.{qids} AS qid)))))"
    )
    u32 = f"CAST({U32_MAX} AS BIGINT)"

    if num_tokens == 2:
        # two ids: the minimizing (a in p0, b in p1) pair is ADJACENT in
        # the merged sorted order (an opposite-id element strictly
        # between them would form a smaller window with one end; a
        # same-id element an equal-or-smaller one with the other), so
        # one zip_with over consecutive pairs suffices — no per-pair
        # state at all. The outer single-element transform binds the
        # sorted pairs array once.
        win = (
            f"IF(size(S) < 2, {u32}, coalesce(array_min("
            f"zip_with(slice(S, 1, size(S) - 1), slice(S, 2, size(S) - 1), "
            f"(a, b) -> IF(a.qid <> b.qid, b.pos - a.pos + 1, {u32}))), {u32}))"
        )
        return f"element_at(transform(array({pairs}), S -> {win}), 1)"

    if num_tokens <= 8:
        # scalar-unrolled state: one struct field per query token id
        # instead of an array — no per-pair array allocation, just
        # scalar IF/least nodes (measured materially faster interpreted)
        zero_fields = ", ".join(
            f"CAST(-1 AS BIGINT) AS l{i}" for i in range(num_tokens)
        )
        zero = f"struct({zero_fields}, {u32} AS best)"
        nls = [f"IF(x.qid = {i}, x.pos, s.l{i})" for i in range(num_tokens)]
        nl_fields = ", ".join(f"{e} AS l{i}" for i, e in enumerate(nls))
        minl = "least(" + ", ".join(nls) + ")" if num_tokens > 1 else nls[0]
        step = (
            f"(s, x) -> struct({nl_fields}, "
            f"IF({minl} >= 0, least(s.best, x.pos - {minl} + 1), s.best) AS best)"
        )
        return f"aggregate({pairs}, {zero}, {step}, s -> s.best)"

    # general case (queries with >8 tokens): array-valued last-seen
    # state; the inner single-element aggregate is a let-binding so the
    # updated array is computed once per pair, not three times
    zero = (
        f"struct(array_repeat(CAST(-1 AS BIGINT), {num_tokens}) AS last, "
        f"{u32} AS best)"
    )
    step = (
        "(s, x) -> aggregate("
        "array(transform(s.last, (v, i) -> IF(i = x.qid, x.pos, v))), "
        "s, "
        "(s2, nl) -> struct(nl AS last, "
        "IF(array_min(nl) >= 0, "
        "least(s2.best, x.pos - array_min(nl) + 1), s2.best) AS best))"
    )
    return f"aggregate({pairs}, {zero}, {step}, s -> s.best)"


def window_score_expr(qids: str, ps: str, num_tokens: int):
    """JVM-side window-score Column: ``3.0 * num_tokens / min_window``
    over the same (qids, ps) shape :func:`window_score_batch_udf`
    consumes — bit-identical to ``3.0 * nt / min_window`` (``3.0 * nt``
    folds to one double literal; pinned in
    tests/test_window_score_units.py)."""
    from pyspark.sql import functions as F

    return F.lit(WINDOW_SCORE_MULTIPLIER * num_tokens) / F.expr(
        min_window_sql(qids, ps, num_tokens)
    )


def min_windows_batch(pos, qid, doc_sizes, num_tokens: int, max_cells=None):
    """Vectorised minimal covering windows for a whole BATCH of docs in
    one pass — no per-doc Python or numpy-call overhead.

    ``pos``/``qid`` are flat int64 arrays over all docs' (position,
    token_id) pairs, doc-major; ``doc_sizes`` gives each doc's pair
    count (sum == len(pos)). Returns one window per doc (U32_MAX when
    not covering). Same quantity as :func:`min_window` per doc.

    Method: one global lexsort by (doc, pos, qid), then the
    per-right-endpoint formulation (the minimal covering window ending
    at pair i starts at the min over ids of their last occurrence
    at-or-before i; the answer is the min over i) with a leak-guard —
    M[q, i] holds the GLOBAL index of the last occurrence of token q
    at-or-before i via a maximum.accumulate along the whole batch; an
    occurrence is only valid for doc d if the index falls inside d's
    segment (>= the doc's start), which exactly cancels the cross-doc
    leakage of the global accumulate.

    The last-seen matrix is built in column chunks of at most
    ``max_cells`` int64 cells (default :data:`_BATCH_MATRIX_CELLS`),
    each chunk's first column carrying the previous chunk's last
    column, so memory stays O(L) however wide the query or long the
    batch."""
    import numpy as np

    n_docs = len(doc_sizes)
    L = int(len(pos))
    if L == 0:
        return np.full(n_docs, U32_MAX, dtype=np.int64)
    doc_sizes = np.asarray(doc_sizes, dtype=np.int64)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), doc_sizes)
    order = np.lexsort((qid, pos, doc_idx))
    pos_s, qid_s = pos[order], qid[order]
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(doc_sizes[:-1], out=starts[1:])
    start_of = np.repeat(starts, doc_sizes)  # doc-major order survives the sort
    step = max(1, (max_cells or _BATCH_MATRIX_CELLS) // num_tokens - 1)
    m = np.empty(L, dtype=np.int64)
    last = np.full(num_tokens, -1, dtype=np.int64)
    for lo in range(0, L, step):
        hi = min(lo + step, L)
        M = np.full((num_tokens, hi - lo + 1), -1, dtype=np.int64)
        M[:, 0] = last
        M[qid_s[lo:hi], np.arange(1, hi - lo + 1)] = np.arange(lo, hi)
        np.maximum.accumulate(M, axis=1, out=M)
        m[lo:hi] = M[:, 1:].min(axis=0)
        last = M[:, -1].copy()
    valid = m >= start_of
    win = np.full(L, U32_MAX, dtype=np.int64)
    win[valid] = pos_s[valid] - pos_s[m[valid]] + 1
    # reduceat over nonempty docs only (an empty doc's start index can
    # equal L or its successor's start, both illegal for reduceat);
    # consecutive nonempty starts span exactly one doc's elements since
    # the docs between them contribute zero elements
    out = np.full(n_docs, U32_MAX, dtype=np.int64)
    nonempty = doc_sizes > 0
    if nonempty.any():
        out[nonempty] = np.minimum.reduceat(win, starts[nonempty])
    return out


# cap on the nt x L last-seen matrix one min_windows_batch chunk
# allocates (int64 cells, 256 MB)
_BATCH_MATRIX_CELLS = 32_000_000


def window_score_batch_udf(num_tokens: int):
    """Arrow-batched pandas UDF computing ``3*nt/min_window`` for a
    whole batch of docs with ONE flatten + ONE lexsort + ONE segmented
    accumulate (:func:`min_windows_batch`), so no per-doc Python or
    numpy-call overhead on corpus-sized candidate sets."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from itertools import chain

    def fn(qids, positions):
        n = len(qids)
        if n == 0:
            return pd.Series([], dtype="float64")
        # flat marshalling, no per-doc x per-term Python bookkeeping:
        # Arrow hands the nested lists over as ndarrays-of-ndarrays, so
        # one chain + three numpy reductions rebuild the doc-major flat
        # (pos, qid, doc_sizes) shape min_windows_batch consumes
        nterm = np.fromiter((len(q) for q in qids), dtype=np.int64, count=n)
        plists = list(chain.from_iterable(positions))
        lens = np.fromiter(
            (len(p) for p in plists), dtype=np.int64, count=len(plists)
        )
        pos = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in plists])
            if plists
            else np.empty(0, dtype=np.int64)
        )
        flat_q = (
            np.concatenate([np.asarray(q, dtype=np.int64) for q in qids])
            if nterm.sum()
            else np.empty(0, dtype=np.int64)
        )
        qid = np.repeat(flat_q, lens)
        # per-doc pair counts: sum of lens over each doc's term rows —
        # reduceat over nonempty docs only (same legality trick as
        # min_windows_batch: consecutive nonempty starts bracket exactly
        # the empty docs' zero elements)
        term_starts = np.zeros(n, dtype=np.int64)
        np.cumsum(nterm[:-1], out=term_starts[1:])
        doc_sizes = np.zeros(n, dtype=np.int64)
        ne = nterm > 0
        if lens.size and ne.any():
            doc_sizes[ne] = np.add.reduceat(lens, term_starts[ne])
        # the cap is read here, when the UDF is pickled, so a driver-side
        # override reaches the Python workers
        w = min_windows_batch(pos, qid, doc_sizes, num_tokens, _BATCH_MATRIX_CELLS)
        return pd.Series(WINDOW_SCORE_MULTIPLIER * num_tokens / w, dtype="float64")

    return F.pandas_udf(fn, T.DoubleType())
