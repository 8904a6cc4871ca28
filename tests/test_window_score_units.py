"""Hand-derived vectors for the minimal covering window (Q11).

These are independent of the oracle: min_window is the oracle's
kernel and the reference every other window kernel (the Spark HOF
expression, the batch UDF, the serving engine's batch kernel) is
pinned to, so a bug there would cancel out in rank-identity tests —
these vectors pin the semantics (mod.rs:255-286) directly.
"""

import pytest

from search_rs_spark.operators.window_score import U32_MAX, combined_score, min_window

VECTORS = [
    # (pairs=(pos, token_id), num_tokens, expected_window)
    ([(0, 0), (5, 1)], 2, 6),
    ([(0, 0), (1, 1), (2, 0)], 2, 2),
    ([(3, 0)], 1, 1),
    ([(0, 0)], 2, U32_MAX),  # token 1 never appears
    ([], 1, U32_MAX),
    ([(0, 0), (10, 1), (11, 0), (12, 1)], 2, 2),
    # all three tokens; best window is positions 7..9
    ([(0, 0), (7, 1), (8, 2), (9, 0), (50, 1)], 3, 3),
    # duplicate query tokens (ids 0 and 2 share the same positions)
    ([(4, 0), (4, 2), (5, 1)], 3, 2),
    # adjacent same-position different tokens
    ([(2, 0), (2, 1)], 2, 1),
]


def _reference_score(qids, ps, nt):
    """``3*nt/min_window`` over one doc's (qids, per-term positions)."""
    pairs = [(p, q) for q, pos in zip(qids, ps) for p in pos]
    return 3.0 * nt / min_window(pairs, nt)


@pytest.mark.parametrize("pairs,nt,expected", VECTORS)
def test_min_window_vectors(pairs, nt, expected):
    assert min_window(pairs, nt) == expected
    # input order must not matter (reference sorts internally)
    assert min_window(list(reversed(pairs)), nt) == expected


def test_combined_score_formula():
    # 3 * nt/window + 1 * bm25  (mod.rs:24-25,284-285)
    s = combined_score(0.5, [(0, 0), (1, 1)], 2)
    assert abs(s - (3.0 * 2 / 2 + 0.5)) < 1e-12
    # no covering window -> tiny but nonzero window term
    s2 = combined_score(0.25, [(0, 0)], 2)
    assert abs(s2 - (3.0 * 2 / U32_MAX + 0.25)) < 1e-12


def test_nested_flatten_equals_pairwise():
    """The batch kernel over the nested (qids, per-term positions)
    flatten (concatenate + repeat, as window_score_batch_udf builds it)
    must agree with the pairwise two-pointer on random per-term
    position groups — the exact shape score_candidates ships."""
    import random

    import numpy as np

    from search_rs_spark.operators.window_score import min_windows_batch

    rng = random.Random(41)
    for _ in range(300):
        nt = rng.randint(1, 5)
        qids, parrs, pairs = [], [], []
        for qid in range(nt):
            if rng.random() < 0.15:
                continue  # term absent -> non-covering case
            pos = sorted(rng.sample(range(120), rng.randint(1, 12)))
            qids.append(qid)
            parrs.append(pos)
            pairs.extend((p, qid) for p in pos)
        expected = min_window(sorted(pairs), nt)
        lens = [len(p) for p in parrs]
        p = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in parrs])
            if parrs
            else np.empty(0, dtype=np.int64)
        )
        q = np.repeat(np.asarray(qids, dtype=np.int64), lens)
        got = min_windows_batch(p, q, [len(p)], nt)[0]
        assert got == expected, (qids, parrs, nt, got, expected)


def test_hof_expr_equals_min_window_on_spark(spark):
    """The JVM-side higher-order-function window expression must be
    BIT-identical to ``3*nt/min_window`` (the oracle's kernel) over the
    property corpus — same (qids, ps) nested shape score_candidates
    ships, including non-covering docs (absent terms -> U32_MAX window)
    and duplicate positions."""
    import random

    from pyspark.sql import functions as F

    from search_rs_spark.operators.window_score import window_score_sql

    rng = random.Random(1234)
    by_nt: dict[int, list] = {}
    for i in range(200):
        # widths cover all three expression specializations: nt=2
        # (adjacent-pair zip_with), 3..8 (scalar-unrolled state incl.
        # the boundary 8), and >8 (array-state general case)
        nt = rng.choice([1, 2, 3, 4, 5, 8, 9, 12])
        qids, parrs = [], []
        for qid in range(nt):
            if rng.random() < 0.15:
                continue
            pos = sorted(rng.sample(range(500), rng.randint(1, 20)))
            qids.append(qid)
            parrs.append(pos)
        if not qids:
            continue
        # collect_list order is nondeterministic in prod; shuffle here
        order = list(range(len(qids)))
        rng.shuffle(order)
        by_nt.setdefault(nt, []).append(
            (i, [qids[j] for j in order], [parrs[j] for j in order])
        )
    for nt, rows in by_nt.items():
        df = spark.createDataFrame(
            rows, "doc_id int, qids array<int>, ps array<array<int>>"
        )
        got = df.select(
            "doc_id", F.expr(window_score_sql("qids", "ps", nt)).alias("hof")
        ).collect()
        expected = {i: _reference_score(q, ps, nt) for i, q, ps in rows}
        for r in got:
            assert r["hof"] == expected[r["doc_id"]], (nt, r)


def test_min_windows_batch_equals_loop():
    """The batch-vectorised kernel (one lexsort + leak-guarded global
    accumulate over a whole batch) must equal the per-doc reference on
    random multi-doc batches, including non-covering docs, absent
    tokens, duplicate positions, and empty docs — also when a small
    matrix cap splits the accumulate into many column chunks, down to
    one column each. Its core, given the same pairs already sorted
    doc-major by (pos, qid), gives the same windows."""
    import random

    import numpy as np

    from search_rs_spark.operators.window_score import (
        U32_MAX,
        min_window,
        min_windows_batch,
        min_windows_sorted,
    )

    rng = random.Random(4242)
    for trial in range(60):
        nt = rng.randint(1, 9)
        n_docs = rng.randint(1, 40)
        pos_l, qid_l, sizes, expected, sorted_l = [], [], [], [], []
        for _ in range(n_docs):
            pairs = []
            for q in range(nt):
                if rng.random() < 0.25:
                    continue
                for p in rng.sample(range(300), rng.randint(1, 15)):
                    pairs.append((p, q))
            sizes.append(len(pairs))
            expected.append(min_window(sorted(pairs), nt))
            pos_l.extend(p for p, _ in pairs)
            qid_l.extend(q for _, q in pairs)
            sorted_l.extend(sorted(pairs))
        for max_cells in (None, 40, 1):
            got = min_windows_batch(
                np.asarray(pos_l, dtype=np.int64),
                np.asarray(qid_l, dtype=np.int64),
                np.asarray(sizes, dtype=np.int64),
                nt,
                max_cells,
            )
            assert list(got) == expected, (trial, nt, max_cells, list(got), expected)
            got = min_windows_sorted(
                np.asarray([p for p, _ in sorted_l], dtype=np.int64),
                np.asarray([q for _, q in sorted_l], dtype=np.int64),
                np.asarray(sizes, dtype=np.int64),
                nt,
                max_cells,
            )
            assert list(got) == expected, (trial, nt, max_cells, list(got), expected)


def test_batch_udf_equals_hof_and_min_window_on_spark(spark):
    """Three-way bit-identity on the production (qids, ps) shape:
    batch UDF == HOF expression == ``3*nt/min_window``, including the
    chunked matrix path (matrix cap forced tiny)."""
    import random

    from pyspark.sql import functions as F

    from search_rs_spark.operators import window_score as ws

    rng = random.Random(777)
    rows = []
    for i in range(120):
        nt = 4
        qids, parrs = [], []
        for qid in range(nt):
            if rng.random() < 0.2:
                continue
            qids.append(qid)
            parrs.append(sorted(rng.sample(range(400), rng.randint(1, 18))))
        if qids:
            rows.append((i, qids, parrs))
    df = spark.createDataFrame(
        rows, "doc_id int, qids array<int>, ps array<array<int>>"
    )
    orig_cap = ws._BATCH_MATRIX_CELLS
    try:
        ws._BATCH_MATRIX_CELLS = 64  # force many matrix chunks
        got = df.select(
            "doc_id",
            ws.window_score_batch_udf(4)(F.col("qids"), F.col("ps")).alias("b"),
            F.expr(ws.window_score_sql("qids", "ps", 4)).alias("h"),
        ).collect()
    finally:
        ws._BATCH_MATRIX_CELLS = orig_cap
    expected = {i: _reference_score(q, ps, 4) for i, q, ps in rows}
    for r in got:
        assert r["b"] == r["h"] == expected[r["doc_id"]], r
