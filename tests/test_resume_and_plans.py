"""Partial resume, distributed spellcheck parity, physical-plan pins,
and snippet fetch."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from search_rs_spark.operators.bm25 import free_query, resolve_query_terms, scored_hits, top_k
from search_rs_spark.operators.boolean import boolean_query
from search_rs_spark.operators.snippets import with_snippets
from search_rs_spark.operators.spellcheck import DriverVocabulary, spellcheck_distributed
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import reference_fixture, synthesize_webtext


def test_partial_resume_reruns_only_missing_stage(spark, tmp_path):
    out = str(tmp_path / "idx")
    wt = reference_fixture(spark)
    build_index(spark, wt, out, corpus_fingerprint="fix3")
    # invalidate one downstream stage
    os.remove(os.path.join(out, "postings", "_MANIFEST.json"))
    m = build_index(spark, wt, out, corpus_fingerprint="fix3")
    by_stage = {x["stage"]: x for x in m if "stage" in x}
    assert by_stage["tokens"].get("skipped")
    assert by_stage["vocabulary"].get("skipped")
    assert not by_stage["postings"].get("skipped")
    # changing params invalidates everything
    m2 = build_index(spark, wt, out, min_f=1, corpus_fingerprint="fix3")
    assert not any(x.get("skipped") for x in m2 if "stage" in x)


def test_distributed_spellcheck_matches_driver(spark, tmp_path):
    wt = synthesize_webtext(spark, 120, seed=5, vocab_size=200, mean_len=30)
    out = str(tmp_path / "idx")
    build_index(spark, wt, out, corpus_fingerprint="s120")
    idx = SearchIndex.load(spark, out)
    vocab_df = idx.vocabulary
    driver = idx.driver_vocab()

    probes = ["peopl", "wrld", "statx", "zz", "knowx", "the"]
    dist = spellcheck_distributed(vocab_df, probes)
    for p in probes:
        drv = driver.spellcheck_term(p)
        got = dist[p]
        if drv is None:
            assert got is None, (p, got)
        else:
            # same (lev, df) key; iteration order may differ on exact ties
            assert got is not None
            from search_rs_spark.operators.spellcheck import levenshtein

            kd = (levenshtein(p, drv), -driver.dfs[driver.term_to_index[drv]])
            kg = (levenshtein(p, got), -driver.dfs[driver.term_to_index[got]])
            assert kd == kg, (p, drv, got)


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_plan"))
    wt = synthesize_webtext(spark, 150, seed=9, vocab_size=250, mean_len=30)
    build_index(spark, wt, out, corpus_fingerprint="p150")
    return SearchIndex.load(spark, out), wt


def test_physical_plan_properties(spark, small_index):
    """Pin the plan shapes the engine depends on at scale."""
    idx, _ = small_index
    terms = resolve_query_terms(idx, "the world time")
    assert len({t for _, t, _ in terms}) == 3
    plan = scored_hits(idx, terms)._jdf.queryExecution().executedPlan().toString()
    # query terms are bound inside the plan: no join, no exchange
    assert "Join" not in plan and "Exchange" not in plan, plan
    # the IN-filter reaches the scan
    pushed = re.search(r"PushedFilters: \[(.*?)\], ReadSchema", plan)
    assert pushed and "In(term, [" in pushed.group(1), plan

    # the statement free_query collects is a distributed bounded top-k
    # over the scored postings: no join (urls are read for the k
    # winners afterwards) and, on this one-partition scan, no exchange
    top_plan = top_k(idx, terms, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in top_plan, top_plan
    assert "Join" not in top_plan and "Exchange" not in top_plan, top_plan


def test_snippets(spark, small_index):
    idx, wt = small_index
    res = free_query(idx, "the world", 5)
    snip = with_snippets(res, wt).collect()
    assert len(snip) == 5
    for r in snip:
        assert r["snippet"] and len(r["snippet"]) <= 250


def test_postings_shuffle_partitions_sizing():
    """Data-sized postings shuffle: never below the session conf, grows
    as ceil(fragments / POSTINGS_FRAGMENTS_PER_PARTITION). The 10M-doc
    corpus (912M fragments) must land well above 64 — the measured
    8g-heap failure point — and tiny corpora must stay at the conf."""
    from search_rs_spark.plans.build import (
        POSTINGS_FRAGMENTS_PER_PARTITION,
        postings_shuffle_partitions,
    )

    assert postings_shuffle_partitions(0, 32) == 32
    assert postings_shuffle_partitions(456_000, 32) == 32  # sf0.1 scale
    assert postings_shuffle_partitions(911_875_678, 64) == 228  # 10M docs
    assert (
        postings_shuffle_partitions(POSTINGS_FRAGMENTS_PER_PARTITION + 1, 1) == 2
    )


def test_postings_aggregate_reuses_explicit_partitioning(spark):
    """repartition(n, subset-of-grouping-keys) must satisfy the
    aggregate's distribution: exactly ONE shuffle exchange in the plan,
    so the data-sized partitioning actually controls the aggregate's
    task memory (no second conf-sized exchange behind it)."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("term_id"),
        (F.col("id") % 7).cast("string").alias("term"),
        (F.col("id") % 11).alias("block_id"),
        F.col("id").alias("doc_id"),
    )
    plan = (
        df.repartition(5, "term_id", "block_id")
        .groupBy("term_id", "term", "block_id")
        .agg(F.collect_list("doc_id").alias("docs"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def _jobs(spark, fn, group):
    """-> (fn(), the number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the tracker is filled from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_free_query_on_a_handle_claiming_1m_docs(spark, small_index):
    """free_query's statement keeps its shape whatever ``num_docs``
    says: on a handle claiming 1M docs (over the same coalesced
    one-task scan) the top-k statement persists nothing (no
    InMemoryTableScan), the call runs exactly one job, and collecting
    the returned k rows runs none. The split scan of a large index is
    pinned by the next test."""
    idx, _ = small_index
    big = SearchIndex(
        spark=spark, path=idx.path, stats={**idx.stats, "num_docs": 1_000_000}
    )
    # driver-side vocabulary + stage relations load once per handle;
    # those jobs are not the query's
    big.driver_vocab()
    _ = big.postings
    terms = resolve_query_terms(big, "the world time")
    plan = _plan(top_k(big, terms, 10))
    assert "InMemoryTableScan" not in plan, plan
    df, n = _jobs(spark, lambda: free_query(big, "the world time", 10), "fq_big_call")
    assert n == 1
    rows, n = _jobs(spark, df.collect, "fq_big_collect")
    assert n == 0 and len(rows) == 10


def test_free_query_over_split_scan_runs_two_jobs(spark, small_index, monkeypatch):
    """With its file splits kept, as at real scale (SMALL_SCAN_BYTES at
    0), the postings scan runs one task per file and the per-doc
    aggregate needs one Exchange: free_query runs 2 jobs, the shuffle's
    map stage and then the top-k, and returns the same rows."""
    import search_rs_spark.plans.index as index_mod

    idx, _ = small_index
    monkeypatch.setattr(index_mod, "SMALL_SCAN_BYTES", 0)
    split = SearchIndex.load(spark, idx.path)
    split.driver_vocab()
    files = [f for f in os.listdir(os.path.join(idx.path, "postings")) if f.endswith(".parquet")]
    assert len(files) >= 2
    assert split.postings.rdd.getNumPartitions() >= 2
    plan = _plan(top_k(split, resolve_query_terms(split, "the world time"), 10))
    assert len(re.findall(r"(?<!\w)Exchange ", plan)) == 1, plan
    df, n = _jobs(spark, lambda: free_query(split, "the world time", 10), "fq_split_call")
    assert n == 2
    rows, n = _jobs(spark, df.collect, "fq_split_collect")
    assert n == 0 and rows == free_query(idx, "the world time", 10).collect()


def test_boolean_plan_is_one_scan_and_one_aggregate(spark, small_index):
    """A boolean query reads the postings once and evaluates its set
    algebra per doc-id block in one aggregate: no semi or anti join,
    no Union but the NOT universe's ``range`` rows, the url join as the
    only Join, and a Window only when a compound operand is negated."""
    idx, _ = small_index
    # query -> (postings scans, universe union, window); with no
    # operand term the scan and the union fold away
    cases = {
        "the AND world": (1, False, False),
        "(the OR world) AND time": (1, False, False),
        "the AND NOT world": (1, True, False),
        "NOT (the AND world) OR time": (1, True, True),
        "NOT zzzqqq": (0, False, False),
    }
    for q, (scans, union, window) in cases.items():
        plan = _plan(boolean_query(idx, q))
        assert len(re.findall(r"FileScan parquet [^\n]*/postings\]", plan)) == scans, plan
        # one GROUP BY block_id: its partial and final aggregates
        assert plan.count("Aggregate(keys=[block_id") == 2, plan
        assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
        assert plan.count("Union") == union, plan
        assert ("Range (0, " in plan) == ("NOT" in q), plan
        joins = [line for line in plan.splitlines() if "Join" in line]
        assert len(joins) == 1 and "/tokens]" in plan, plan
        assert ("Window [" in plan) == window, plan


def test_boolean_query_runs_two_jobs(spark, small_index):
    """``a AND b``: one job for the aggregate and the broadcast of its
    hits, one for the url join and the sort."""
    idx, _ = small_index
    idx.driver_vocab()
    boolean_query(idx, "the AND world").collect()  # loads the stage relations
    rows, n = _jobs(spark, boolean_query(idx, "the AND world").collect, "bool_and")
    assert n == 2 and rows


def test_free_query_runs_one_job(spark, small_index):
    """A multi-term free query is one statement with its terms bound
    in-plan: exactly one Spark job (the scoring + top-k) runs, with no
    query-terms broadcast job and no url job; the result is a local
    relation whose collect runs no job and keeps the score-desc /
    doc_id-asc order."""
    idx, _ = small_index
    terms = resolve_query_terms(idx, "the world time")
    assert len({t for _, t, _ in terms}) == 3
    df, n = _jobs(spark, lambda: free_query(idx, "the world time", 10), "fq_call")
    assert n == 1
    rows, n = _jobs(spark, df.collect, "fq_collect")
    assert n == 0 and len(rows) == 10
    keys = [(-r["score"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    assert [r["url"] for r in rows] == idx.urls([r["doc_id"] for r in rows])


def test_no_term_query_runs_no_job(spark, small_index):
    """A query with no vocabulary term answers an empty local relation
    of the result schema without a Spark job."""
    idx, _ = small_index
    df, n = _jobs(spark, lambda: free_query(idx, "", 10), "fq_empty_call")
    rows, m = _jobs(spark, df.collect, "fq_empty_collect")
    assert (n, m, rows) == (0, 0, [])
    assert df.columns == ["doc_id", "url", "score"]


def test_wand_materialization_runs_no_job(spark, small_index):
    """free_query_wand's protocol path ends in materialize_topk: the
    returned relation is local (its collect runs no job) and equals
    the exhaustive answer."""
    from search_rs_spark.operators.wand import free_query_wand

    idx, _ = small_index
    df = free_query_wand(idx, "the world time", 10, force_protocol=True)
    rows, n = _jobs(spark, df.collect, "wand_collect")
    assert n == 0
    assert rows == free_query(idx, "the world time", 10).collect()


def test_vocabulary_stage_plan_pin(spark, tmp_path, monkeypatch):
    """The vocabulary stage counts (term, block_id) pairs, then terms:
    exactly three Exchanges — hash on (term, block_id), hash on term,
    the rank's range partitioning — no Join, no Window, and a tokens
    scan that reads doc_id and terms only (the positions arrays stay on
    disk)."""
    from search_rs_spark.sources import catalog

    captured = {}
    real = catalog.write_stage

    def spy(df, path, options=None):
        captured[os.path.basename(path)] = df
        real(df, path, options)

    monkeypatch.setattr(catalog, "write_stage", spy)
    wt = synthesize_webtext(spark, 60, seed=3, vocab_size=80, mean_len=20)
    build_index(spark, wt, str(tmp_path / "idx"), block_span=8)
    # after the build the stage's caches are dropped, so this is the
    # whole stage computation, not a scan of its persisted inputs
    plan = captured["vocabulary"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 3, plan
    assert re.search(r"Exchange hashpartitioning\(term#\d+, block_id#\d+L?,", plan), plan
    assert re.search(r"Exchange hashpartitioning\(term#\d+, \d+\)", plan), plan
    assert "Exchange rangepartitioning(term#" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    (schema,) = re.findall(r"ReadSchema: (struct<[^ ]*>)", plan)
    assert schema == "struct<doc_id:bigint,terms:array<string>>", plan


def test_global_rank_plan_has_no_join_or_window(spark):
    """with_global_rank folds the partition offsets in as one literal
    array: its executed plan (the persisted intermediate included) has
    no Join and no Window, and the ranks are the dense sort order."""
    from search_rs_spark.plans.ranks import with_global_rank

    persists: list = []
    keys = spark.range(200).selectExpr("cast(id * 7919 % 1009 as string) AS k")
    ranked = with_global_rank(keys, "k", "r", persist_tracker=persists)
    try:
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan, plan
        assert "Join" not in plan and "Window" not in plan, plan
        got = sorted((r["r"], r["k"]) for r in ranked.collect())
        want = sorted(r["k"] for r in keys.collect())
        assert got == list(enumerate(want))
    finally:
        for p in persists:
            p.unpersist(blocking=False)


def _subtrees(plan: str, node: str) -> list[str]:
    """The text of each subtree of ``plan`` rooted at a line holding
    ``node``: the lines below it that are nested deeper."""

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if node in line:
            d, sub = depth(line), []
            for below in lines[i + 1 :]:
                if depth(below) <= d:
                    break
                sub.append(below)
            out.append("\n".join(sub))
    return out


@pytest.fixture(scope="module")
def boolean_builds(spark, tmp_path_factory):
    """A 3k-doc corpus built at the default block_span (one block) and
    at block_span=64 (47 blocks)."""
    wt = synthesize_webtext(spark, 3000, seed=5, vocab_size=20000, mean_len=120)
    out = {}
    for span in (None, 64):
        path = str(tmp_path_factory.mktemp(f"idx_bool_{span or 'default'}"))
        build_index(spark, wt, path, **({"block_span": span} if span else {}))
        out[span] = SearchIndex.load(spark, path)
    return out


@pytest.mark.parametrize("span", [None, 64])
def test_boolean_url_join_never_broadcasts_the_tokens_scan(boolean_builds, span):
    """The url join must not broadcast the whole (doc_id, url) tokens
    projection: the hits side is the one sized by the answer. Checked
    in the executed plan, before and after adaptive execution."""
    idx = boolean_builds[span]
    assert int(idx.stats["block_span"]) == (span or 4096)
    for q in ("other0 AND the", "the AND NOT other0", "the OR other0"):
        df = boolean_query(idx, q)
        assert df.collect()
        plan = _plan(df)
        assert "/tokens]" in plan, plan
        for sub in _subtrees(plan, "BroadcastExchange"):
            assert "/tokens]" not in sub, (q, plan)



def _final_nodes(df) -> list:
    """The JVM nodes of ``df``'s executed plan after adaptive execution:
    query stages are entered, a cached relation's own plan is not (it
    is not data that flows through this plan)."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.fixture(scope="module")
def sf001_docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def test_exact_dedup_plan_has_no_join(sf001_docs):
    """exact_dedup is one window pass over (doc_id, md5(text)): its
    executed plan joins nothing."""
    from search_rs_spark.operators.dedup import exact_dedup

    df = exact_dedup(sf001_docs)
    assert df.collect()
    names = [n.nodeName() for n in _final_nodes(df)]
    assert "Window" in names and not [n for n in names if "Join" in n], names


def test_lsh_attaches_shingles_by_two_merge_joins(sf001_docs):
    """minhash_lsh_pairs attaches the shingle sets to the candidate
    pairs through exactly two sort-merge joins, and no broadcast
    carries a shingle column (the semi join's broadcast holds
    candidate ids only)."""
    from search_rs_spark.operators.dedup import minhash_lsh_pairs

    persists: list = []
    df = minhash_lsh_pairs(sf001_docs, persist_tracker=persists)
    try:
        assert df.collect()
        nodes = _final_nodes(df)
    finally:
        for p in persists:
            p.unpersist(blocking=False)
    names = [n.nodeName() for n in nodes]
    assert names.count("SortMergeJoin") == 2, names
    for n in nodes:
        if n.nodeName() == "BroadcastExchange":
            cols = [n.output().apply(i).name() for i in range(n.output().size())]
            assert not {"shingles", "sh_a", "sh_b"} & set(cols), cols
