"""Block-max WAND must be rank-identical to the exhaustive scorer,
its per-block upper bounds must dominate every true doc score (the
safety invariant pruning rests on — including duplicate-token queries,
where the window component can exceed 3.0), and its block protocol
must stay distributed (bounded-literal or semi-join block
restrictions, no full-metadata collect).
"""

import math
import re

import pytest

from pyspark.sql import functions as F

from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.operators.wand import free_query_wand, span_upper_bounds
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import WEBTEXT_SCHEMA, _EPOCH, wrap_html
from search_rs_spark.sources.webtext import synthesize_webtext


@pytest.fixture(scope="module")
def wand_index(spark, tmp_path_factory):
    wt = synthesize_webtext(spark, 300, seed=11, vocab_size=400, mean_len=50)
    out = str(tmp_path_factory.mktemp("idx_wand"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=32)
    return SearchIndex.load(spark, out)


QUERIES = [
    ("the world of people", 10),
    ("man time year", 25),
    ("good great work life state", 5),
    ("the", 50),
    ("the the time", 10),
]


@pytest.mark.parametrize("q,k", QUERIES)
def test_wand_equals_exhaustive(wand_index, q, k):
    """force_protocol=True: the auto cost gates would route this small
    corpus to the exhaustive scorer, which would make the test vacuous —
    the PROTOCOL's rank-identity is what is being pinned."""
    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query(wand_index, q, k).collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(wand_index, q, k, force_protocol=True).collect()
    ]
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (wd, ws), (ed, es) in zip(wand, exact):
        assert math.isclose(ws, es, rel_tol=1e-9, abs_tol=1e-12)


def test_wand_pass1_over_literal_cap_uses_semijoin_and_stays_exact(
    wand_index, monkeypatch
):
    """When the pass-1 coverage set exceeds MAX_LITERAL_BLOCKS (k > 512
    at the default constants), the scan restriction must switch from an
    inlined IN filter to a broadcast semi-join and the pass-2 exclusion
    to an anti-join — with ranks unchanged. Pinned by shrinking the cap
    below this corpus's coverage-set size."""
    from search_rs_spark.operators import wand as wand_mod

    monkeypatch.setattr(wand_mod, "MAX_LITERAL_BLOCKS", 2)
    q, k = "the world of people", 10
    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query(wand_index, q, k).collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_mod.free_query_wand(
            wand_index, q, k, force_protocol=True
        ).collect()
    ]
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (_, ws), (_, es) in zip(wand, exact):
        assert math.isclose(ws, es, rel_tol=1e-9, abs_tol=1e-12)


def test_wand_cost_gate_routes_small_span_pools_to_exhaustive(
    wand_index, monkeypatch
):
    """Auto mode (force_protocol=None): a corpus whose span pool is
    below SPAN_GATE_FACTOR * COVERAGE_FACTOR * k must bail to the
    exhaustive scorer (pre-gate) — and the bailout result must equal
    the protocol's."""
    from search_rs_spark.operators import wand as wand_mod

    calls = []
    real = wand_mod.free_query

    def spy(index, query, k, **kw):
        calls.append((query, k))
        return real(index, query, k, **kw)

    monkeypatch.setattr(wand_mod, "free_query", spy)
    q, k = "the world of people", 10
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(wand_index, q, k).collect()
    ]
    assert calls == [(q, k)], "pre-gate did not route to the exhaustive scorer"
    forced = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(wand_index, q, k, force_protocol=True).collect()
    ]
    assert auto == forced


def test_wand_single_term_query_bails_with_zero_jobs(wand_index, monkeypatch):
    """A single-distinct-term query blankets trivially (uniform window
    bonus), so auto mode must route to the exhaustive scorer WITHOUT
    building the span-ub metadata plan at all."""
    from search_rs_spark.operators import wand as wand_mod

    def boom(index, terms):
        raise AssertionError("span_upper_bounds built for a single-term query")

    monkeypatch.setattr(wand_mod, "span_upper_bounds", boom)
    rows = free_query_wand(wand_index, "the the", 10).collect()
    assert len(rows) == 10


def test_wand_empty_query(wand_index):
    assert free_query_wand(wand_index, "zzzzqqq", 10).count() == 0


@pytest.mark.parametrize("q,k", QUERIES)
def test_two_stage_prefilter_is_lossless(wand_index, q, k):
    """The doc-level lb/ub prefilter (forced on — the auto threshold
    would skip it at this corpus size) must reproduce the fully
    exhaustive (unpruned) scoring's top-k exactly."""
    from search_rs_spark.operators.bm25 import resolve_query_terms, score_candidates

    terms = resolve_query_terms(wand_index, q)
    exhaustive = (
        score_candidates(wand_index, terms)  # k=None: no pruning at all
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    cleanup = []
    pruned = (
        score_candidates(
            wand_index, terms, k=k, cleanup=cleanup, prefilter=True, fused=False
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    for c in cleanup:
        c.unpersist(blocking=False)
    assert cleanup, "prefilter did not engage"
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exhaustive]
    for p, e in zip(pruned, exhaustive):
        assert math.isclose(p["score"], e["score"], rel_tol=1e-9)


@pytest.mark.parametrize(
    "q,k", [(q, k) for q, k in QUERIES if len(set(q.split())) > 1]
)
def test_fused_single_pass_plan_is_lossless(wand_index, q, k):
    """The fused all-head plan (one explode, one aggregate carrying the
    position arrays, no theta job — forced on; the conj_lb auto gate
    would skip it at this corpus size) must reproduce the unpruned
    scoring's top-k with bit-identical scores."""
    from search_rs_spark.operators.bm25 import resolve_query_terms, score_candidates

    terms = resolve_query_terms(wand_index, q)
    exhaustive = (
        score_candidates(wand_index, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    fused = (
        score_candidates(wand_index, terms, k=k, prefilter=True, fused=True)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    assert [r["doc_id"] for r in fused] == [r["doc_id"] for r in exhaustive]
    for f, e in zip(fused, exhaustive):
        assert math.isclose(f["score"], e["score"], rel_tol=1e-9, abs_tol=1e-12)


def test_fused_auto_gate_is_conjunction_bound_driven(wand_index, monkeypatch):
    """Auto mode takes the fused plan iff the Bonferroni conjunction
    lower bound sum(df) - (m-1)*N clears FUSED_CONJ_FRACTION * N."""
    from search_rs_spark.operators import bm25 as bm25_mod

    called = []
    real = bm25_mod._score_fused

    def spy(e, num_tokens, **kw):
        called.append(num_tokens)
        return real(e, num_tokens, **kw)

    monkeypatch.setattr(bm25_mod, "_score_fused", spy)
    n = wand_index.num_docs
    # synthetic head terms: every df = N => conj_lb = N >= fraction * N
    head_terms = [(0, "the", n), (1, "of", n)]
    bm25_mod.score_candidates(
        wand_index, head_terms, k=5, cleanup=[], prefilter=True
    )
    assert called == [2], "all-head dfs must route to the fused plan"
    called.clear()
    # rare terms: conj_lb <= 0 AND independence estimate ~ 6/N docs
    # => theta path
    rare_terms = [(0, "the", 3), (1, "of", 2)]
    bm25_mod.score_candidates(
        wand_index, rare_terms, k=5, cleanup=[], prefilter=True
    )
    assert called == [], "rare dfs must keep the two-stage theta path"
    # mid terms: Bonferroni bound is vacuous (sum(df) = N) but the
    # independence estimate N/4 clears FUSED_CONJ_EST_FRACTION
    mid_terms = [(0, "the", n // 2), (1, "of", n // 2)]
    bm25_mod.score_candidates(
        wand_index, mid_terms, k=5, cleanup=[], prefilter=True
    )
    assert called == [2], "mid dfs must route to the fused plan via the estimate"


def test_fused_gate_routes_window_kernel_by_conjunction_size(
    wand_index, monkeypatch
):
    """The fused gate's own signal also selects the window kernel:
    corpus-sized conjunctions prefer the batch numpy kernel (measured
    6-11% faster exactly there), and a merely FORCED fused plan keeps
    the HOF default (no Python workers)."""
    from search_rs_spark.operators import bm25 as bm25_mod

    prefs = []
    real = bm25_mod._score_fused

    def spy(e, num_tokens, **kw):
        prefs.append(kw.get("batch"))
        return real(e, num_tokens, **kw)

    monkeypatch.setattr(bm25_mod, "_score_fused", spy)
    n = wand_index.num_docs
    head_terms = [(0, "the", n), (1, "of", n)]
    bm25_mod.score_candidates(
        wand_index, head_terms, k=5, cleanup=[], prefilter=True
    )
    assert prefs == [True], "corpus-sized conjunction must pick the batch UDF"
    prefs.clear()
    # forced fused with a rare conjunction: HOF default stays
    rare_terms = [(0, "the", 3), (1, "of", 2)]
    bm25_mod.score_candidates(
        wand_index, rare_terms, k=5, cleanup=[], prefilter=True, fused=True
    )
    assert prefs == [False], "forced-but-small conjunction must keep the HOF"
    # _window_col follows the flag: batch UDF when set, else HOF
    col_pref = bm25_mod._window_col(2, batch=True)
    assert repr(col_pref).startswith("Column<'fn(")
    col_hof = bm25_mod._window_col(2)
    assert "pythonUDF" not in repr(col_hof) and "fn(" not in repr(col_hof)


# ---------------------------------------------------------------------------
# adversarial duplicate-token corpus: docs where "xerxes"/"yaw" sit
# adjacent have window = 2 for the query "xerxes xerxes yaw"
# (num_tokens=3, n_distinct=2), so the true window component is
# 3*3/2 = 4.5 > 3.0 — a flat 3.0 bonus under-bounds these blocks.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_index(spark, tmp_path_factory):
    texts = []
    # blocks of 4 docs (block_span=4). A couple of tight-window docs,
    # many far-window docs, many one-term-only docs (prunable blocks).
    for i in range(12):
        texts.append("xerxes yaw")  # window 2
    for i in range(12):
        texts.append("xerxes " + "filler " * 30 + "yaw")  # window 32
    for i in range(40):
        texts.append("xerxes alone here " + f"pad{i % 7} " * 5)  # no yaw
    for i in range(8):
        texts.append("yaw only " + f"pod{i % 5} " * 9)  # no xerxes
    rows = [
        (f"https://d.local/{i:06d}.txt", _EPOCH, wrap_html(t), t, "en")
        for i, t in enumerate(texts)
    ]
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_dup"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=4)
    return SearchIndex.load(spark, out)


DUP_QUERY = "xerxes xerxes yaw"


def test_block_upper_bounds_dominate_true_scores(spark, dup_index):
    """Safety invariant: for every block, ub >= the max true combined
    score of any doc in it. Fails if the all-terms-present window bonus
    is capped at 3.0 instead of 3*num_tokens/n_distinct."""
    from search_rs_spark.operators.bm25 import resolve_query_terms

    terms = resolve_query_terms(dup_index, DUP_QUERY)
    ub = {
        r["block_id"]: r["ub"]
        for r in span_upper_bounds(dup_index, terms).collect()
    }
    scores = free_query(dup_index, DUP_QUERY, k=10_000).collect()
    assert scores
    span = dup_index.stats["block_span"]
    saw_above_flat3_bm = False
    for r in scores:
        b = r["doc_id"] // span
        assert b in ub, f"doc {r['doc_id']} scored but block {b} unbounded"
        assert ub[b] >= r["score"] - 1e-9, (b, ub[b], r["score"])
        if r["score"] > 4.0:
            saw_above_flat3_bm = True
    # the corpus must actually exercise the >3.0 window region
    assert saw_above_flat3_bm


def test_wand_duplicate_tokens_with_pruning_firing(dup_index):
    """Rank-identity on the duplicate-token query, with pruning live:
    some blocks' ub falls below theta (the k-th best true score)."""
    k = 5
    from search_rs_spark.operators.bm25 import resolve_query_terms

    exact = free_query(dup_index, DUP_QUERY, k).collect()
    wand = free_query_wand(dup_index, DUP_QUERY, k, force_protocol=True).collect()
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact]
    for w, e in zip(wand, exact):
        assert math.isclose(w["score"], e["score"], rel_tol=1e-9)

    theta = exact[-1]["score"]
    terms = resolve_query_terms(dup_index, DUP_QUERY)
    ubs = [r["ub"] for r in span_upper_bounds(dup_index, terms).collect()]
    assert any(u < theta for u in ubs), (sorted(ubs), theta)


def test_wand_block_restriction_forms(dup_index):
    """Two block-restriction forms, each with the right plan shape:
    a DataFrame restriction must be a broadcast LEFT SEMI join with NO
    literal block_id IN-list (the unbounded case — an arbitrarily large
    literal predicate would blow up plan compile time), while a bounded
    list restriction must fold into the scan as a literal filter (the
    row-group-prunable fast path wand.py uses under MAX_LITERAL_BLOCKS)
    and produce identical rows."""
    from search_rs_spark.operators.bm25 import resolve_query_terms, score_candidates

    terms = resolve_query_terms(dup_index, DUP_QUERY)
    blocks = span_upper_bounds(dup_index, terms).select("block_id")
    df = score_candidates(dup_index, terms, blocks=blocks)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"block_id#\d+L? IN \(", plan), plan[:4000]
    assert re.search(r"Join LeftSemi, \(block_id#", plan), plan[:4000]

    ids = sorted(int(r["block_id"]) for r in blocks.collect())
    df_lit = score_candidates(dup_index, terms, blocks=ids)
    plan_lit = df_lit._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"block_id#\d+L? IN \(", plan_lit) or "INSET" in plan_lit, (
        plan_lit[:4000]
    )
    assert not re.search(r"Join LeftSemi, \(block_id#", plan_lit), plan_lit[:4000]
    a = sorted((r["doc_id"], round(r["score"], 9)) for r in df.collect())
    b = sorted((r["doc_id"], round(r["score"], 9)) for r in df_lit.collect())
    assert a == b


@pytest.fixture(scope="module")
def spread_index(spark, tmp_path_factory):
    """A corpus where block pruning CAN pay, auto-gates passing: many
    spans (2000 docs, block_span=4 -> 500 spans), a rare high-idf term
    ('bravo', docs 0-24 -> 7 spans) next to a ubiquitous low-idf one
    ('alpha'), so the all-terms window bonus + idf spread concentrates
    ub in a handful of spans instead of blanketing."""
    filler = [
        "red green blue stone river cloud", "iron wood glass paper light shade",
        "north south east west upper lower", "first second third fourth fifth sixth",
    ]
    rows = []
    for i in range(2000):
        text = f"alpha {filler[i % 4]} {filler[(i // 4) % 4]} marker{i % 40}"
        if i < 25:
            text = text + " bravo"
        u = f"https://example.org/spread/{i:08d}.html"
        rows.append((u, _EPOCH, wrap_html(text), text, "en"))
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_spread"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=4)
    return SearchIndex.load(spark, out)


def test_wand_protocol_fires_and_prunes_on_spread_corpus(
    spread_index, monkeypatch
):
    """The regime test the round-3 verdict asked for: on a bm-spread /
    partial-term-span corpus, AUTO mode must take the two-pass block
    protocol (not bail — pinned by spying on the exhaustive fallback),
    produce the exhaustive scorer's exact results, and the theta it
    finds must prune the overwhelming majority of spans (the condition
    under which the protocol pays at scale; the wall-clock demonstration
    lives in BASELINE.md at 1M docs, where job-count overhead stops
    dominating)."""
    from search_rs_spark.operators import wand as wand_mod

    q, k = "alpha bravo", 10

    # the absolute-volume gate would (correctly) bail at test scale —
    # sum_df ~= 2000 rows is far below any regime where the protocol
    # pays; zero it so the RELATIVE gates and the protocol itself are
    # what this test exercises
    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)

    calls = []
    monkeypatch.setattr(
        wand_mod,
        "free_query",
        lambda index, query, kk: calls.append((query, kk))
        or (_ for _ in ()).throw(AssertionError("auto mode bailed to exhaustive")),
    )
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(spread_index, q, k).collect()
    ]
    assert not calls
    monkeypatch.undo()

    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(spread_index, q, k, force_protocol=False).collect()
    ]
    assert auto == exact

    # pruning effectiveness: theta (the k-th returned score) must kill
    # >= 90% of the span pool — only spans that can hold 'bravo' or
    # near-theta bm mass survive
    from search_rs_spark.operators.bm25 import resolve_query_terms

    terms = resolve_query_terms(spread_index, q)
    ub = span_upper_bounds(spread_index, terms)
    n_spans = ub.count()
    theta = exact[-1][1]
    survivors = ub.filter(F.col("ub") >= theta).count()
    assert n_spans >= 400, n_spans
    assert survivors <= 0.1 * n_spans, (survivors, n_spans)


@pytest.fixture(scope="module")
def blanket_index(spark, tmp_path_factory):
    """Every doc holds both head terms ('alpha', 'beta'); 'bravo' is
    planted in 5 docs. The span pool (100 spans at block_span=4)
    passes the span-pool gate at k=10, so with the volume gate zeroed
    the zero-job blanket ESTIMATE is the deciding pre-gate."""
    filler = [
        "red green blue", "iron wood glass",
        "north south east", "first second third",
    ]
    rows = []
    for i in range(400):
        text = f"alpha beta {filler[i % 4]} marker{i % 40}"
        if i % 80 == 0:
            text = text + " bravo"
        u = f"https://example.org/blanket/{i:08d}.html"
        rows.append((u, _EPOCH, wrap_html(text), text, "en"))
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_blanket"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=4)
    return SearchIndex.load(spark, out)


def test_wand_blanket_estimate_bails_zero_job_on_all_head_queries(
    blanket_index, monkeypatch
):
    """An all-head-term query must route to the exhaustive scorer from
    the driver-side blanket estimate alone — span_upper_bounds (a
    postings scan of the query terms) must never be built: that
    discarded metadata pass measured +40% on wand-auto head queries at
    30M docs (BASELINE.md round 5). A planted-rare-term query on the
    SAME index must still reach the metadata pass (the estimate keeps
    the paying regime), with auto == exhaustive results."""
    from search_rs_spark.operators import wand as wand_mod

    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)

    def boom(index, terms):
        raise AssertionError("span_upper_bounds built for a blanketing query")

    monkeypatch.setattr(wand_mod, "span_upper_bounds", boom)
    rows = free_query_wand(blanket_index, "alpha beta", 10).collect()
    assert len(rows) == 10
    monkeypatch.undo()

    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)
    seen = []
    real = wand_mod.span_upper_bounds
    monkeypatch.setattr(
        wand_mod,
        "span_upper_bounds",
        lambda idx, ts: seen.append(1) or real(idx, ts),
    )
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(blanket_index, "alpha bravo", 10).collect()
    ]
    assert seen, "rare-term query bailed before the metadata pass"
    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(
            blanket_index, "alpha bravo", 10, force_protocol=False
        ).collect()
    ]
    assert auto == exact


@pytest.fixture(scope="module")
def clustered_index(spark, tmp_path_factory):
    """6400 docs, block_span=64 -> 100 spans. 'alpha' in every doc;
    'gamma' in docs 0..639 ONLY (df/N = 0.1, spatially clustered in the
    first 10 spans). The uniform-placement blanket estimate for 'gamma'
    is (1-0.1)^64 ~= 0.0012 — i.e. the estimate alone says "blankets,
    bail" — while the REAL measured miss fraction is 90/100 spans."""
    filler = ["red green", "iron wood", "north south", "first second"]
    rows = []
    for i in range(6400):
        text = f"alpha {filler[i % 4]} marker{i % 160}"
        if i < 640:
            text = text + " gamma"
        u = f"https://example.org/clustered/{i:08d}.html"
        rows.append((u, _EPOCH, wrap_html(text), text, "en"))
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_clustered"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=64)
    return SearchIndex.load(spark, out)


def test_wand_clustered_middf_term_reaches_measured_gate(
    clustered_index, monkeypatch
):
    """The zero-job blanket estimate's admitted blind spot, pinned: for
    a spatially clustered mid-df term the uniform model UNDERestimates
    the span-miss fraction, so an estimate-only pre-gate would bail to
    the exhaustive scorer and forfeit pruning. The HEAD_DF_FRACTION
    guard must route such queries past the estimate into the measured
    in-plan gate, which must KEEP the protocol (measured blanket
    fraction far below BLANKET_FRACTION), with auto == exhaustive."""
    from search_rs_spark.operators import wand as wand_mod
    from search_rs_spark.operators.wand import resolve_query_terms

    idx = clustered_index
    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)

    terms = resolve_query_terms(idx, "alpha gamma")
    n = float(idx.num_docs)
    block_span = int(idx.stats["block_span"])
    dfs = {t: df for _, t, df in terms}
    # the blind spot is real on this fixture: the uniform estimate says
    # "blankets" (would bail) AND gamma is mid-df (guard disagrees)
    miss_est = sum((1.0 - df / n) ** block_span for df in dfs.values())
    assert miss_est <= 1.0 - wand_mod.BLANKET_FRACTION, miss_est
    assert min(dfs.values()) / n < wand_mod.HEAD_DF_FRACTION

    # the guard must carry the query into the metadata pass...
    seen = []
    real = wand_mod.span_upper_bounds
    monkeypatch.setattr(
        wand_mod, "span_upper_bounds",
        lambda i, ts: seen.append(1) or real(i, ts),
    )
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(idx, "alpha gamma", 10).collect()
    ]
    assert seen, "clustered mid-df query bailed on the zero-job estimate"

    # ...and the MEASURED in-plan gate must keep the protocol there:
    # ~90% of spans miss gamma, nowhere near the blanket bail line
    ub = real(idx, terms)
    n_spans = ub.count()
    n_full = ub.filter(F.col("all_terms")).count()
    assert n_spans >= 100, n_spans
    assert n_full / n_spans <= 0.15, (n_full, n_spans)

    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(idx, "alpha gamma", 10, force_protocol=False).collect()
    ]
    assert auto == exact
