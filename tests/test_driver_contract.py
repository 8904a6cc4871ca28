"""Mimics the driver gate: every queries() entry runs on Spark and its
oracle_sql() runs on DuckDB over the same sf0.01 parquet; row counts,
column names, and values must match exactly (order-insensitive)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize(rows, cols):
    import numpy as np

    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, np.generic):
                v = v.item()
            if isinstance(v, float):
                v = round(v, 9)
            if isinstance(v, (list, tuple, np.ndarray)):
                v = tuple(
                    round(x, 9) if isinstance(x, float) else x for x in list(v)
                )
            # the driver's value-hash is type-sensitive (880 != 880.0) —
            # carry the type name so int/float divergence fails here too
            vals.append((type(v).__name__, v))
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


def test_contract_size():
    """A refactor of the contract must not silently drop a row, least of
    all a hash-gated one."""
    assert len(entrymod.queries()) == 44
    assert len(ORACLE_KEYS) == 41
    assert set(ORACLE_KEYS) <= set(entrymod.queries())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]

    sdf = qfn(spark, SF_DIR)
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]

    ddf = duck.sql(sql).df()
    dcols = sorted(ddf.columns)
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"

    drows = ddf.to_dict("records")
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"

    a = _normalize(srows, scols)
    b = _normalize(drows, dcols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatch {mismatches[0]}"


# the genuinely non-SQL-expressible cells (stemmed engine — stemming
# has no SQL form, and each has a hash-gated stem=False twin above) —
# everything else, including every ANN probe path, the no-stem engine
# plans, and the multimodal stub kernels (driver-side literal-table
# oracles), is in ORACLE_KEYS above
ROWS_ONLY = [
    "engine_free_query",
    "engine_boolean_query",
    "engine_wand_query",
]


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    qfn = entrymod.queries()[name]
    df = qfn(spark, SF_DIR)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_nostem_oracle_corpus_preconditions(spark):
    """The engine_*_nostem oracles are literal-term SQL: they assume
    their operand terms ('data', 'query', 'join') appear verbatim in
    the sf0.01 no-stem vocabulary and spellcheck-resolve to themselves.
    If the corpus ever regenerated without one, the engine would apply
    trigram correction (and the empty-NOT 1..=n quirk) while the SQL
    stayed plain containment — this guard turns that silent dependency
    into a loud failure. Also pins NOSTEM_K > num_docs, the condition
    that makes the nostem top-k LIMIT structurally vacuous."""
    idx = entrymod._index(spark, SF_DIR, stem=False)
    vocab = idx.driver_vocab()
    for t in ["data", "query", "join", "spark"]:
        assert vocab.spellcheck_term(t) == t, f"{t} no longer verbatim in vocab"
    assert idx.num_docs < entrymod.NOSTEM_K
    entrymod._oracle_tokens_checked(SF_DIR)  # raises if any doc differs


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "url", "score"} <= set(df.columns)


def test_lsh_topk_recall(spark):
    """LSH-ANN must find most of the brute-force top-10."""
    from search_rs_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_bucketed_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = entrymod._query_vec(SF_DIR)
    exact = {r["vec_id"] for r in cosine_topk_bruteforce(emb, qv, 10, 0).collect()}
    approx = {r["vec_id"] for r in lsh_bucketed_topk(emb, qv, 10, exclude_vec_id=0).collect()}
    assert len(exact & approx) >= 5, (exact, approx)
