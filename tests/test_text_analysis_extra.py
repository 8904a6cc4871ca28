"""BPE-ish piece counting and winnowing fingerprints: semantic
properties beyond the DuckDB value-identity gate."""

import hashlib

import pytest

from search_rs_spark.functions.text_analysis import (
    WINNOW_K,
    WINNOW_W,
    bpe_token_counts,
    widen_scan,
    winnow_fingerprints,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_piece_classes(spark):
    d = _docs(spark, [(0, "Hello, world!! abc123 été")])
    r = bpe_token_counts(d).collect()[0]
    # ws tokens: Hello, | world!! | abc123 | été  -> 4
    assert r["n_ws_tokens"] == 4
    # pieces (lowercased): letter runs [hello, world, abc, t],
    # digit runs [123], non-alnum runs [',', '!!', 'é', 'é'] = 9
    assert r["n_pieces"] == 9
    assert r["n_punct_pieces"] == 4  # ',', '!!', 'é', 'é'
    assert r["pieces_per_ws_token"] == round(9 / 4, 6)


def test_bpe_empty_and_null(spark):
    d = spark.createDataFrame(
        [(0, ""), (1, None), (2, "   ")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bpe_token_counts(d).collect()}
    assert rows[0]["n_ws_tokens"] == 0 and rows[0]["pieces_per_ws_token"] == 0.0
    assert rows[2]["n_ws_tokens"] == 0 and rows[2]["n_pieces"] == 0


def _py_winnow(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> set[str]:
    """Independent pure-Python winnowing oracle."""
    import re

    s = " ".join(re.findall(r"[a-z0-9]+", text.lower()))
    grams = [
        (hashlib.md5(s[i : i + k].encode()).hexdigest(), i)
        for i in range(len(s) - k + 1)
    ]
    if not grams:
        return set()
    out = set()
    n_win = max(len(grams) - w + 1, 1)
    for j in range(n_win):
        out.add(min(grams[j : j + w])[0])
    return out


def test_winnow_matches_python_oracle(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "hello world hello man man world",
        "a b",  # shorter than k after normalization -> no rows? 'a b' = 3 chars < 8
        "tiny",
        "abcdefgh",  # exactly k chars -> one gram, one window
        "some longer sentence with repeated repeated repeated phrases here",
    ]
    d = _docs(spark, list(enumerate(texts)))
    got: dict[int, set] = {}
    for r in winnow_fingerprints(d).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(t), (i, t)


def test_winnow_shared_substring_guarantee(spark):
    """Any shared normalized substring of length >= k+w-1 must yield at
    least one common fingerprint (the winnowing paper's guarantee)."""
    shared = "common stretch of text that is long enough"
    a = "prefix words here " + shared + " suffix alpha"
    b = "totally different opening " + shared + " other ending"
    d = _docs(spark, [(0, a), (1, b)])
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in winnow_fingerprints(d).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[0] & fps[1]


def test_winnow_disjoint_texts_share_nothing(spark):
    d = _docs(spark, [(0, "aaaa bbbb cccc dddd eeee"), (1, "zzzz yyyy xxxx wwww vvvv")])
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in winnow_fingerprints(d).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[0] and fps[1] and not (fps[0] & fps[1])


def test_winnow_plan_hashes_each_gram_once(spark):
    """Results cannot see the plan shape: the gram array must stay one
    projection (CollapseProject inlining it would re-run md5 in every
    consumer), with no per-character Window and only widen_scan's
    Exchange. Counted in the AQE final plan; the string also prints
    the initial plan."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    df = winnow_fingerprints(docs)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]
    assert final.count("md5(") == 1, final
    assert "Window" not in final, final
    assert final.count("Exchange") == 1, final


def test_widen_scan_spreads_to_the_input_width_never_below_conf(spark, tmp_path):
    """The repartition target is max(shuffle conf, the input's scan
    width): a 3-file local parquet input at conf 1 is spread over 3
    partitions, a 1-file input stays at the conf (1, then 4)."""
    rows = spark.range(30).withColumnRenamed("id", "doc_id")
    three, one = str(tmp_path / "three"), str(tmp_path / "one")
    rows.repartition(3).write.parquet(three)
    rows.coalesce(1).write.parquet(one)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        wide = spark.read.parquet(three)
        assert len(wide.inputFiles()) == 3
        assert widen_scan(wide).rdd.getNumPartitions() == 3
        narrow = spark.read.parquet(one)
        assert widen_scan(narrow).rdd.getNumPartitions() == 1
        spark.conf.set(key, "4")
        assert widen_scan(narrow).rdd.getNumPartitions() == 4
    finally:
        spark.conf.set(key, old)
