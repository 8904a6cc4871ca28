"""Block-max WAND must be rank-identical to the exhaustive scorer,
its per-block upper bounds must dominate every true doc score (the
safety invariant pruning rests on — including duplicate-token queries,
where the window component can exceed 3.0), and its block protocol
must stay bounded (one span collect of bounded size, literal block_id
restrictions, the exhaustive scorer past the literal cap).
"""

import math
import re

import pytest

from pyspark.sql import functions as F

from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.operators.wand import (
    free_query_wand,
    span_upper_bounds,
    theta_floor,
)
from search_rs_spark.oracle import build_oracle, oracle_free_query
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


def _spy_free_query(monkeypatch):
    """-> the (query, k) list of calls WAND makes to free_query."""
    from search_rs_spark.operators import wand as wand_mod

    calls = []
    real = wand_mod.free_query

    def spy(index, query, k):
        calls.append((query, k))
        return real(index, query, k)

    monkeypatch.setattr(wand_mod, "free_query", spy)
    return calls


def test_wand_coverage_over_literal_cap_hands_over_to_free_query(
    wand_index, monkeypatch
):
    """When the pass-1 coverage set exceeds MAX_LITERAL_BLOCKS (k > 512
    at the default constants), the forced protocol hands the query to
    the exhaustive scorer: one free_query call, the same answer. Pinned
    by shrinking the cap below this corpus's coverage-set size."""
    from search_rs_spark.operators import wand as wand_mod

    monkeypatch.setattr(wand_mod, "MAX_LITERAL_BLOCKS", 2)
    calls = _spy_free_query(monkeypatch)
    q, k = "the world of people", 10
    wand = [
        (r["doc_id"], r["score"].hex())
        for r in wand_mod.free_query_wand(
            wand_index, q, k, force_protocol=True
        ).collect()
    ]
    assert calls == [(q, k)]
    exact = [
        (r["doc_id"], r["score"].hex())
        for r in free_query(wand_index, q, k).collect()
    ]
    assert wand == exact


def test_wand_cost_gate_routes_small_span_pools_to_exhaustive(
    wand_index, monkeypatch
):
    """Auto mode: a corpus whose span pool is below SPAN_GATE_FACTOR *
    COVERAGE_FACTOR * k must bail to the exhaustive scorer (pre-gate) —
    and the bailout result must equal the protocol's."""
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


def test_vocabulary_n_blocks_counts_postings_rows(wand_index, monkeypatch):
    """n_blocks (the WAND gate's per-term statistic) is the term's
    postings row count, for every vocabulary term, and the index
    helper reads it back — from the driver vocabulary, and through the
    filtered collect when the vocabulary is too large for the driver."""
    from search_rs_spark.plans import index as index_mod

    got = {
        r["term"]: r["n_blocks"]
        for r in wand_index.vocabulary.select("term", "n_blocks").collect()
    }
    want = {
        r["term"]: r["count"]
        for r in wand_index.postings.groupBy("term").count().collect()
    }
    assert got == want
    sample = {t: want[t] for t in ("the", "world")}
    assert wand_index.n_blocks(list(sample)) == sample
    monkeypatch.setattr(index_mod, "DRIVER_VOCAB_MAX_TERMS", 0)
    fresh = SearchIndex.load(wand_index.spark, wand_index.path)
    assert fresh.n_blocks(list(sample)) == sample


def test_wand_empty_query(wand_index):
    assert free_query_wand(wand_index, "zzzzqqq", 10).count() == 0


@pytest.fixture(scope="module")
def wand_oracle(spark):
    """Python oracle over the same seeded corpus as ``wand_index``."""
    wt = synthesize_webtext(spark, 300, seed=11, vocab_size=400, mean_len=50)
    rows = wt.select("url", "text").collect()
    return build_oracle([(r["url"], r["text"]) for r in rows])


@pytest.mark.parametrize(
    "q,k", [(q, k) for q, k in QUERIES if len(set(q.split())) > 1]
)
def test_fused_single_pass_plan_is_lossless(wand_index, wand_oracle, q, k):
    """The one scoring plan (one explode, one aggregate carrying the
    position arrays next to the bm sums) must reproduce the reference
    oracle's top-k with the same scores — multi-term queries, one with
    a duplicated token."""
    got = free_query(wand_index, q, k).collect()
    want = oracle_free_query(wand_oracle, q, k=k)
    assert [r["doc_id"] for r in got] == [d for d, _, _ in want]
    for r, (_, _, es) in zip(got, want):
        assert math.isclose(r["score"], es, rel_tol=1e-9, abs_tol=1e-12)


def test_fused_gate_routes_window_kernel_by_conjunction_size(
    wand_index, monkeypatch
):
    """One constant picks the window kernel: the batch UDF iff the
    Bonferroni conjunction bound sum(df) - (m-1)*N clears
    BATCH_WINDOW_MIN_DOCS, the HOF otherwise, and no window kernel at
    all for a single distinct term (closed form). Both kernels give the
    same scores."""
    from search_rs_spark.operators import bm25 as bm25_mod

    def plan(terms):
        df = bm25_mod.score_candidates(wand_index, terms)
        return df, df._jdf.queryExecution().executedPlan().toString()

    def rows(df):
        return sorted((r["doc_id"], r["score"]) for r in df.collect())

    terms = bm25_mod.resolve_query_terms(wand_index, "the of")
    bound = sum(df for _, _, df in terms) - wand_index.num_docs
    assert len({t for _, t, _ in terms}) == 2 and bound > 0

    monkeypatch.setattr(bm25_mod, "BATCH_WINDOW_MIN_DOCS", bound)
    batch, batch_plan = plan(terms)
    assert "ArrowEvalPython" in batch_plan, batch_plan

    monkeypatch.setattr(bm25_mod, "BATCH_WINDOW_MIN_DOCS", bound + 1)
    hof, hof_plan = plan(terms)
    assert "ArrowEvalPython" not in hof_plan and "collect_list" in hof_plan
    assert rows(batch) == rows(hof)

    monkeypatch.setattr(bm25_mod, "BATCH_WINDOW_MIN_DOCS", 0)
    _, single_plan = plan(bm25_mod.resolve_query_terms(wand_index, "the the"))
    assert "ArrowEvalPython" not in single_plan
    assert "collect_list" not in single_plan, single_plan


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


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    """36 docs, block_span=4. X docs (0, 4, 8) tie on the top score;
    C docs (5, 9) raise the alpha block_max of spans 1-2 above span
    0's, so the coverage walk meets spans 1-2 first. Span 0's computed
    ub lands one ulp below doc 0's score: the bound divides each
    contribution by doc_len before idf multiplies it, the scorer
    multiplies first and divides the sum last."""
    x = "alpha bravo " + " ".join(f"pad{i}" for i in range(24))
    c, f = "alpha alpha alpha", "zulu yankee"
    texts = [x, f, f, f] + [x, c, f, f] * 2 + [f] * 24
    rows = [
        (f"https://t.local/{i:06d}.txt", _EPOCH, wrap_html(t), t, "en")
        for i, t in enumerate(texts)
    ]
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_tie"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=4)
    return SearchIndex.load(spark, out)


TIE_QUERY = "alpha bravo"


@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("coverage_factor", [None, 1])
def test_wand_keeps_ties_at_theta(tie_index, monkeypatch, k, coverage_factor):
    """Rank identity when the k-th score is a tie: the protocol's answer
    equals free_query's in doc ids and score bits. COVERAGE_FACTOR=1
    leaves span 0 out of the coverage set, so pass 2 must keep it
    although its ub sits one ulp below theta."""
    from search_rs_spark.operators import wand as wand_mod

    if coverage_factor is not None:
        monkeypatch.setattr(wand_mod, "COVERAGE_FACTOR", coverage_factor)
    exact = [
        (r["doc_id"], r["score"].hex())
        for r in free_query(tie_index, TIE_QUERY, k).collect()
    ]
    wand = [
        (r["doc_id"], r["score"].hex())
        for r in free_query_wand(
            tie_index, TIE_QUERY, k, force_protocol=True
        ).collect()
    ]
    assert exact[0][0] == 0
    assert wand == exact


def _assert_protocol_keeps_every_scored_span(index, query):
    """For every scored doc, the protocol's own keep predicate (ub >=
    theta_floor(theta)) holds for its span with theta = the doc's
    score: pass 2 never prunes a span holding a doc at theta."""
    from search_rs_spark.operators.bm25 import resolve_query_terms

    terms = resolve_query_terms(index, query)
    ub = {
        r["block_id"]: r["ub"] for r in span_upper_bounds(index, terms).collect()
    }
    scores = free_query(index, query, k=10_000).collect()
    assert scores
    span = index.stats["block_span"]
    for r in scores:
        b = r["doc_id"] // span
        assert b in ub, f"doc {r['doc_id']} scored but block {b} unbounded"
        assert ub[b] >= theta_floor(r["score"]), (b, ub[b].hex(), r["score"].hex())
    return scores


def test_block_upper_bounds_dominate_true_scores(dup_index, tie_index):
    """Safety invariant: for every block, ub >= the max true combined
    score of any doc in it, as the protocol tests it. Fails if the
    all-terms-present window bonus is capped at 3.0 instead of
    3*num_tokens/n_distinct (dup corpus), or if the keep line has no
    margin for the bound's rounding (tie corpus: span 0's ub comes out
    one ulp below doc 0's score)."""
    scores = _assert_protocol_keeps_every_scored_span(dup_index, DUP_QUERY)
    # the corpus must actually exercise the >3.0 window region
    assert any(r["score"] > 4.0 for r in scores)
    _assert_protocol_keeps_every_scored_span(tie_index, TIE_QUERY)


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
    """A block restriction folds into the scan as a literal filter (an
    IN-list or INSET, no semi join) and keeps exactly the unrestricted
    scores of the docs in those blocks."""
    from search_rs_spark.operators.bm25 import resolve_query_terms, score_candidates

    terms = resolve_query_terms(dup_index, DUP_QUERY)
    spans = sorted(
        int(r["block_id"]) for r in span_upper_bounds(dup_index, terms).collect()
    )
    ids = spans[::2]
    assert 0 < len(ids) < len(spans)
    df = score_candidates(dup_index, terms, blocks=ids)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"block_id#\d+L? IN \(", plan) or "INSET" in plan, plan[:4000]
    assert "LeftSemi" not in plan, plan[:4000]

    span = dup_index.stats["block_span"]
    got = sorted((r["doc_id"], r["score"].hex()) for r in df.collect())
    want = sorted(
        (r["doc_id"], r["score"].hex())
        for r in score_candidates(dup_index, terms).collect()
        if r["doc_id"] // span in ids
    )
    assert got and got == want


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
        for r in free_query(spread_index, q, k).collect()
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
    the Bonferroni all-terms bound is the deciding pre-gate."""
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


def test_wand_block_bound_bails_zero_job_on_all_head_queries(
    blanket_index, monkeypatch
):
    """An all-head-term query must route to the exhaustive scorer from
    the vocabulary block counts alone — span_upper_bounds (a postings
    scan of the query terms) must never be built: that
    discarded metadata pass measured +40% on wand-auto head queries at
    30M docs (BASELINE.md round 5). A planted-rare-term query on the
    SAME index must still reach the metadata pass (the bound keeps the
    paying regime), with auto == exhaustive results."""
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
        for r in free_query(blanket_index, "alpha bravo", 10).collect()
    ]
    assert auto == exact


@pytest.fixture(scope="module")
def uniform_middf_index(spark, tmp_path_factory):
    """800 docs, block_span=8 -> 100 spans. 'alpha' in every doc with
    i % 8 == 0, 'beta' in every doc with i % 8 == 3: each has df/N =
    0.125 (mid-df) yet touches every span, so every span holds both
    terms and the window bonus blankets the ub spread."""
    filler = ["red green", "iron wood", "north south", "first second"]
    rows = []
    for i in range(800):
        text = f"{filler[i % 4]} marker{i % 50}"
        if i % 8 == 0:
            text = text + " alpha"
        if i % 8 == 3:
            text = text + " beta"
        u = f"https://example.org/uniform/{i:08d}.html"
        rows.append((u, _EPOCH, wrap_html(text), text, "en"))
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_uniform"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=8)
    return SearchIndex.load(spark, out)


def test_wand_uniform_middf_terms_bail_without_metadata_pass(
    uniform_middf_index, monkeypatch
):
    """Mid-df terms spread over every span have nb = B, so the
    all-terms bound sum(nb) - (m-1)*B = B blankets the pool: auto mode
    must route to the exhaustive scorer without building
    span_upper_bounds (a scan of the query terms' postings), and
    return its results."""
    from search_rs_spark.operators import wand as wand_mod

    idx = uniform_middf_index
    terms = wand_mod.resolve_query_terms(idx, "alpha beta")
    assert {t for _, t, _ in terms} == {"alpha", "beta"}
    assert all(df / idx.num_docs < 0.2 for _, _, df in terms)
    assert idx.n_blocks(["alpha", "beta"]) == {"alpha": 100, "beta": 100}

    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)

    def boom(index, terms):
        raise AssertionError("span_upper_bounds built for a blanketing query")

    monkeypatch.setattr(wand_mod, "span_upper_bounds", boom)
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(idx, "alpha beta", 10).collect()
    ]
    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query(idx, "alpha beta", 10).collect()
    ]
    assert len(auto) == 10 and auto == exact


@pytest.fixture(scope="module")
def clustered_index(spark, tmp_path_factory):
    """6400 docs, block_span=64 -> 100 spans. 'alpha' in every doc;
    'gamma' in docs 0..639 ONLY (df/N = 0.1, spatially clustered in the
    first 10 spans): a uniform-placement model would put it in ~every
    span ((1-0.1)^64 ~= 0.0012 miss chance), while it really spans 10."""
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


def test_wand_clustered_middf_term_keeps_the_protocol(
    clustered_index, monkeypatch
):
    """A spatially clustered mid-df term gets its real block count, so
    the all-terms bound sum(nb) - (m-1)*B = 10 of a 100-span pool is
    far below the blanket line: auto mode must run the protocol (the
    metadata pass is built, the exhaustive fallback never called), with
    auto == exhaustive."""
    from search_rs_spark.operators import wand as wand_mod

    idx = clustered_index
    assert idx.n_blocks(["alpha", "gamma"]) == {"alpha": 100, "gamma": 10}
    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)

    seen = []
    real = wand_mod.span_upper_bounds
    monkeypatch.setattr(
        wand_mod, "span_upper_bounds",
        lambda i, ts: seen.append(1) or real(i, ts),
    )
    monkeypatch.setattr(
        wand_mod,
        "free_query",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("auto mode bailed to exhaustive")
        ),
    )
    auto = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query_wand(idx, "alpha gamma", 10).collect()
    ]
    assert seen, "clustered mid-df query never reached the protocol"
    monkeypatch.undo()

    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in free_query(idx, "alpha gamma", 10).collect()
    ]
    assert auto == exact


@pytest.fixture(scope="module")
def head_rare_index(spark, tmp_path_factory):
    """3,200 docs, block_span=16 -> 200 spans. 'the' is in every doc
    (2-4 tokens long, so 'the'-only scores spread); 'rare' is in one
    doc of each of 60 spans, all alike, so the 60 rare docs tie and
    pass 2 has survivors. A span's max df_block is 16 (the head term),
    its rarest-term df_block is 1."""
    words = ["red", "green", "iron", "wood"]
    rows = []
    for i in range(3200):
        span, slot = divmod(i, 16)
        dl = 2 if i % 8 == 0 else 3 + i % 2
        text = " ".join(["the"] + words[: dl - 1])
        if span % 10 in (0, 3, 6) and slot == 5:
            text = "the rare iron wood"
        u = f"https://example.org/headrare/{i:08d}.html"
        rows.append((u, _EPOCH, wrap_html(text), text, "en"))
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_headrare"))
    build_index(spark, wt, out, min_f=0, max_p=1.0, block_span=16)
    return SearchIndex.load(spark, out)


@pytest.mark.parametrize("max_literal", [None, 100])
def test_wand_coverage_counts_the_rarest_term(
    head_rare_index, monkeypatch, max_literal
):
    """A head term next to a rare one: coverage counts each span's
    rarest-term docs, so theta is a real k-th score and auto mode keeps
    the protocol, with free_query's answer. Counting the head term's
    docs fills coverage with 'the'-only docs, theta falls to their
    scores and nearly every span survives (197 of 200), so at
    MAX_LITERAL_BLOCKS=100 the protocol hands over to free_query;
    rarest-term coverage leaves 20 survivors."""
    from search_rs_spark.operators import wand as wand_mod

    idx, q, k = head_rare_index, "rare the", 10
    assert idx.n_blocks(["the", "rare"]) == {"the": 200, "rare": 60}
    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)
    if max_literal is not None:
        monkeypatch.setattr(wand_mod, "MAX_LITERAL_BLOCKS", max_literal)
    monkeypatch.setattr(
        wand_mod,
        "free_query",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("auto mode bailed to exhaustive")
        ),
    )
    auto = [
        (r["doc_id"], r["score"].hex()) for r in free_query_wand(idx, q, k).collect()
    ]
    monkeypatch.undo()
    exact = [(r["doc_id"], r["score"].hex()) for r in free_query(idx, q, k).collect()]
    assert auto == exact


def test_wand_hands_over_to_free_query_only_past_the_literal_cap(
    head_rare_index, monkeypatch
):
    """The protocol hands the query to free_query exactly when its
    coverage set or its survivors exceed MAX_LITERAL_BLOCKS, with the
    same answer. At k = 10 the coverage set is 40 rare spans and 20
    survive; at COVERAGE_FACTOR = 1 it is 10 and 50 survive, so a cap
    of 49 (the span collect then stops one row past the cap) must hand
    over and a cap of 50 must not."""
    from search_rs_spark.operators import wand as wand_mod

    idx, q, k = head_rare_index, "rare the", 10
    monkeypatch.setattr(wand_mod, "MIN_PRUNABLE_POSTINGS", 0)
    calls = _spy_free_query(monkeypatch)

    def run():
        return [
            (r["doc_id"], r["score"].hex())
            for r in free_query_wand(idx, q, k).collect()
        ]

    auto = run()
    assert not calls, "handed over under the literal cap"

    monkeypatch.setattr(wand_mod, "MAX_LITERAL_BLOCKS", 0)
    assert run() == auto
    assert calls == [(q, k)], "coverage set over the cap did not hand over"

    monkeypatch.setattr(wand_mod, "COVERAGE_FACTOR", 1)
    for cap, handed_over in ((50, False), (49, True)):
        calls.clear()
        monkeypatch.setattr(wand_mod, "MAX_LITERAL_BLOCKS", cap)
        assert run() == auto
        assert calls == ([(q, k)] if handed_over else []), cap


def test_forced_protocol_runs_three_jobs_and_persists_nothing(head_rare_index):
    """The forced protocol is one span collect and the two literal
    passes: 3 Spark jobs for a query with pass-2 survivors, and no RDD
    left persisted."""
    idx = head_rare_index
    spark = idx.spark
    sc = spark.sparkContext
    free_query_wand(idx, "rare the", 10, force_protocol=True)  # loads the handle
    before = set(sc._jsc.getPersistentRDDs().keySet())
    sc.setJobGroup("wand_forced", "wand_forced")
    try:
        rows = free_query_wand(idx, "rare the", 10, force_protocol=True).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(list(sc.statusTracker().getJobIdsForGroup("wand_forced"))) == 3
    assert set(sc._jsc.getPersistentRDDs().keySet()) == before
    exact = free_query(idx, "rare the", 10).collect()
    assert [(r["doc_id"], r["score"].hex()) for r in rows] == [
        (r["doc_id"], r["score"].hex()) for r in exact
    ]
