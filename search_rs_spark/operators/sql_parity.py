"""Core engine operators in SQL-oracle-checkable form.

Stemming is not expressible in ANSI SQL, so these run the engine's
dataflow with the no-stem tokenizer (identical token extraction in both
engines, see functions/text_analysis.py). Everything else — doc-length
extraction (B6), df aggregation + vocabulary pruning (B7-B9), postings
statistics, BM25 scoring with the reference's /doc_len renormalization
(Q9/Q10) and top-k (Q13), boolean containment (Q5-Q8) — is the same
arithmetic the stemmed engine runs, so the DuckDB comparison genuinely
gates the engine's relational skeleton.

Each Spark function takes a ``documents``-shaped DataFrame
(doc_id, text, ...); each ``*_SQL`` runs on the pre-registered
``documents`` view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import DUCK_TOKENS, SPARK_TOKENS
from ..plans.ranks import with_global_rank
from .window_score import BM25_B, BM25_K1

MIN_F = 1
MAX_P = 0.8
BM25_QUERY_TERMS = ["spark", "data", "query"]
BM25_K = 20


def _toks(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.expr(SPARK_TOKENS).alias("toks")
    )


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, doc_len) — B6 with the no-stem tokenizer."""
    return _toks(docs).select("doc_id", F.size("toks").cast("long").alias("doc_len"))


DOC_LENGTHS_SQL = f"""
SELECT doc_id, len({DUCK_TOKENS}) AS doc_len
FROM documents WHERE text IS NOT NULL
"""


def term_df(docs: DataFrame) -> DataFrame:
    """(term, df) — document frequency per term (B7 phase-1 projection)."""
    e = _toks(docs).select("doc_id", F.explode("toks").alias("term"))
    return (
        e.dropDuplicates(["doc_id", "term"])
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


TERM_DF_SQL = f"""
WITH raw AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tok AS (SELECT DISTINCT doc_id, term FROM raw)
SELECT term, count(*) AS df FROM tok GROUP BY term
"""


def vocabulary(docs: DataFrame) -> DataFrame:
    """(term, term_id, df) — df-threshold pruning (B8) + sorted rank (B9).

    Keep iff ``min_f < df <= floor(num_docs * max_p)`` (builder.rs:115-123).
    """
    dfc = term_df(docs)
    n = docs.filter(F.col("text").isNotNull()).count()
    threshold = int(n * MAX_P)
    kept = dfc.filter((F.col("df") > MIN_F) & (F.col("df") <= threshold))
    return with_global_rank(kept, "term", "term_id").select("term", "term_id", "df")


VOCABULARY_SQL = f"""
WITH raw AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tok AS (SELECT DISTINCT doc_id, term FROM raw),
dfc AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL)
SELECT term, row_number() OVER (ORDER BY term) - 1 AS term_id, df
FROM dfc, n
WHERE df > {MIN_F} AND df <= cast(floor(n * {MAX_P}) AS BIGINT)
"""


def postings_stats(docs: DataFrame) -> DataFrame:
    """(term, df, total_tf, min_doc_id, max_doc_id) — posting-list shape."""
    e = _toks(docs).select("doc_id", F.explode("toks").alias("term"))
    tf = e.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


POSTINGS_STATS_SQL = f"""
WITH raw AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tf AS (SELECT term, doc_id, count(*) AS tf FROM raw GROUP BY term, doc_id)
SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM tf GROUP BY term
"""


def bm25_topk(docs: DataFrame, terms: list[str] | None = None, k: int = BM25_K) -> DataFrame:
    """(doc_id, score) — full reference BM25 (mod.rs:158-186) incl. the
    /doc_len renormalization quirk, no-stem tokens, top-k by
    (rounded score desc, doc_id asc)."""
    terms = terms or BM25_QUERY_TERMS
    t = _toks(docs).select("doc_id", F.size("toks").alias("dl"), "toks")
    stats = t.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = float(stats["n"]), float(stats["avgdl"])

    e = t.select(
        "doc_id", "dl", F.explode("toks").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = e.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfc), "term")
        .withColumn(
            "idf", F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        .withColumn(
            "bm",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id", "dl")
        .agg(F.sum("bm").alias("bm_sum"))
        .select(
            "doc_id", F.round(F.col("bm_sum") / F.col("dl"), 6).alias("score")
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_sql(terms: list[str] | None = None, k: int = BM25_K) -> str:
    terms = terms or BM25_QUERY_TERMS
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks, len({DUCK_TOKENS}) AS dl
  FROM documents WHERE text IS NOT NULL
), stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM t),
e AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM t
), tf AS (
  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM e
  WHERE term IN ({in_list}) GROUP BY doc_id, dl, term
), dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id, tf.dl,
         sum(ln((stats.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0::DOUBLE)
             * (tf.tf * {BM25_K1 + 1.0})
             / (tf.tf + {BM25_K1} * (1.0::DOUBLE - {BM25_B} + {BM25_B}
                * tf.dl::DOUBLE / stats.avgdl))) AS bm_sum
  FROM tf JOIN dfc USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id, tf.dl
)
SELECT doc_id, round(bm_sum / dl, 6)::DOUBLE AS score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# Engine-faithful DuckDB tokenizer for the engine_*_nostem oracles: the
# Python build tokenizer STRIPS non-[a-zA-Z0-9\s] runs BEFORE
# lowercasing (preprocessor.rs:17-24 order), while DUCK_TOKENS
# lowercases first — divergent on characters whose lowercase maps into
# ASCII (e.g. U+212A KELVIN SIGN -> 'k'). Replicating the
# replace-then-lower order makes the oracle byte-faithful to the engine
# on any input; Python's Unicode-aware \s vs RE2's ASCII \s is
# immaterial (kept-whitespace and replaced-to-space are both token
# separators).
ENGINE_DUCK_TOKENS = (
    "regexp_extract_all(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g')),"
    " '[a-z0-9]+')"
)


def engine_free_query_nostem_sql(term: str, k: int) -> str:
    """DuckDB oracle for the REAL engine query path over a
    ``build_index(stem=False)`` index (not the sql_parity re-expression):
    a single-term free query, whose combined score is fully closed-form —
    every matching doc contains the whole (one-term) query, so its
    minimal covering window is 1 and the window component is exactly
    ``3.0 * num_tokens / window = 3.0`` (mod.rs:255-286), plus the BM25
    term with the /doc_len renormalization (mod.rs:158-186). The idf df
    equals the posting-list length = count of matching docs
    (vocabulary.rs:36-39, intended semantics per SURVEY §1.4)."""
    return f"""
WITH t AS (
  SELECT doc_id, {ENGINE_DUCK_TOKENS} AS toks, len({ENGINE_DUCK_TOKENS}) AS dl
  FROM documents WHERE text IS NOT NULL
), stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM t),
m AS (
  SELECT doc_id, dl,
         len(list_filter(toks, x -> x = '{term}'))::DOUBLE AS tf
  FROM t
  WHERE list_contains(toks, '{term}')
), dfc AS (SELECT count(*)::DOUBLE AS df FROM m)
SELECT doc_id,
       round(3.0
             + (ln((stats.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0::DOUBLE)
                * (m.tf * {BM25_K1 + 1.0})
                / (m.tf + {BM25_K1} * (1.0::DOUBLE - {BM25_B} + {BM25_B}
                   * m.dl::DOUBLE / stats.avgdl)))
               / m.dl, 6)::DOUBLE AS score
FROM m, dfc, stats
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def engine_free_query_nostem_2term_sql(t1: str, t2: str, k: int) -> str:
    """DuckDB oracle for the REAL engine path with a TWO-term no-stem
    query — this is the row that puts the minimal-covering-window
    arithmetic itself (mod.rs:255-286) under a DuckDB hash, not just its
    single-term closed form: for two distinct query token ids the
    minimal window covering both is ``min over (a in p1, b in p2) of
    |a - b| + 1`` (any covering window contains some such pair, and
    [min(a,b), max(a,b)] is itself covering), expressible as a list
    cross product. Docs holding only one term take the engine's
    U32_MAX-window epsilon (mod.rs:256); BM25 follows mod.rs:158-186
    with the /doc_len renormalization. Corpus precondition (guarded in
    tests/test_driver_contract.py): both terms must appear verbatim in
    the no-stem vocabulary, else the engine would spellcheck-correct
    them while this oracle stays literal."""
    idf1 = (
        f"ln((stats.n - dfc.df1 + 0.5) / (dfc.df1 + 0.5) + 1.0::DOUBLE)"
    )
    idf2 = (
        f"ln((stats.n - dfc.df2 + 0.5) / (dfc.df2 + 0.5) + 1.0::DOUBLE)"
    )

    def bm(idf: str, plist: str) -> str:
        return (
            f"{idf} * (len({plist})::DOUBLE * {BM25_K1 + 1.0}) "
            f"/ (len({plist})::DOUBLE + {BM25_K1} * (1.0::DOUBLE - {BM25_B} "
            f"+ {BM25_B} * m.dl::DOUBLE / stats.avgdl))"
        )

    return f"""
WITH t AS (
  SELECT doc_id, {ENGINE_DUCK_TOKENS} AS toks, len({ENGINE_DUCK_TOKENS}) AS dl
  FROM documents WHERE text IS NOT NULL
), stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM t),
m AS (
  SELECT doc_id, dl,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{t1}') AS p1,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{t2}') AS p2
  FROM t
  WHERE list_contains(toks, '{t1}') OR list_contains(toks, '{t2}')
), dfc AS (
  SELECT sum(CASE WHEN len(p1) > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         sum(CASE WHEN len(p2) > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
  FROM m
), sc AS (
  SELECT m.doc_id,
         (CASE WHEN len(m.p1) > 0 THEN {bm(idf1, 'm.p1')} ELSE 0.0::DOUBLE END
          + CASE WHEN len(m.p2) > 0 THEN {bm(idf2, 'm.p2')} ELSE 0.0::DOUBLE END
         ) / m.dl::DOUBLE
         + CASE WHEN len(m.p1) > 0 AND len(m.p2) > 0 THEN
             6.0::DOUBLE / list_min(flatten(list_transform(m.p1,
                 a -> list_transform(m.p2,
                      b -> greatest(a, b) - least(a, b) + 1))))::DOUBLE
           ELSE 6.0::DOUBLE / 4294967295.0::DOUBLE END AS score
  FROM m, dfc, stats
)
SELECT doc_id, round(score, 6)::DOUBLE AS score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def engine_free_query_nostem_3term_sql(t1: str, t2: str, t3: str, k: int) -> str:
    """DuckDB oracle for a THREE-term no-stem engine query — the row
    that puts the >=3-term minimal-covering-window arithmetic under a
    DuckDB hash (the 2-term row only exercises the nt=2 HOF
    specialization, window_score.py:111-124; this one drives the
    scalar-unrolled nt<=8 state machine on its real dataflow). For
    three distinct query token ids the minimal covering window is
    ``min over (a in p1, b in p2, c in p3) of max(a,b,c)-min(a,b,c)+1``
    (any covering window contains one position from each list and is at
    least that long; each triple's [min,max] span is itself covering) —
    a triple list cross product, fine at driver-sf tf sizes. Docs
    holding a strict subset of the terms keep window = U32_MAX
    (mod.rs:256,271: ``seen.len() == num_tokens`` never fires), i.e.
    bonus 9.0/4294967295; BM25 sums the present terms' contributions
    then renormalizes by doc_len (mod.rs:158-186). Corpus precondition
    (self-guarded in the __spark_entry__ hook): all three terms must
    appear verbatim in the no-stem vocabulary and spellcheck-resolve to
    themselves."""
    idf = {
        i: f"ln((stats.n - dfc.df{i} + 0.5) / (dfc.df{i} + 0.5) + 1.0::DOUBLE)"
        for i in (1, 2, 3)
    }

    def bm(i: int) -> str:
        plist = f"m.p{i}"
        return (
            f"CASE WHEN len({plist}) > 0 THEN {idf[i]} "
            f"* (len({plist})::DOUBLE * {BM25_K1 + 1.0}) "
            f"/ (len({plist})::DOUBLE + {BM25_K1} * (1.0::DOUBLE - {BM25_B} "
            f"+ {BM25_B} * m.dl::DOUBLE / stats.avgdl)) ELSE 0.0::DOUBLE END"
        )

    cross = (
        "flatten(flatten(list_transform(m.p1, a -> list_transform(m.p2, "
        "b -> list_transform(m.p3, c -> greatest(a, b, c) - least(a, b, c) + 1)))))"
    )
    return f"""
WITH t AS (
  SELECT doc_id, {ENGINE_DUCK_TOKENS} AS toks, len({ENGINE_DUCK_TOKENS}) AS dl
  FROM documents WHERE text IS NOT NULL
), stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM t),
m AS (
  SELECT doc_id, dl,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{t1}') AS p1,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{t2}') AS p2,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{t3}') AS p3
  FROM t
  WHERE list_contains(toks, '{t1}') OR list_contains(toks, '{t2}')
     OR list_contains(toks, '{t3}')
), dfc AS (
  SELECT sum(CASE WHEN len(p1) > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         sum(CASE WHEN len(p2) > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2,
         sum(CASE WHEN len(p3) > 0 THEN 1 ELSE 0 END)::DOUBLE AS df3
  FROM m
), sc AS (
  SELECT m.doc_id,
         ({bm(1)} + {bm(2)} + {bm(3)}) / m.dl::DOUBLE
         + CASE WHEN len(m.p1) > 0 AND len(m.p2) > 0 AND len(m.p3) > 0 THEN
             9.0::DOUBLE / list_min({cross})::DOUBLE
           ELSE 9.0::DOUBLE / 4294967295.0::DOUBLE END AS score
  FROM m, dfc, stats
)
SELECT doc_id, round(score, 6)::DOUBLE AS score
FROM sc ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


# Corpus precondition (guarded in tests/test_driver_contract.py): the
# three operands must appear verbatim in the sf0.01 no-stem vocabulary
# and spellcheck-resolve to themselves — if one ever dropped out, the
# engine would apply trigram correction and the empty-NOT 1..=n quirk
# while this oracle stays plain containment.
ENGINE_BOOLEAN_NOSTEM_SQL = f"""
WITH t AS (
  SELECT doc_id, {ENGINE_DUCK_TOKENS} AS toks
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, 1.0::DOUBLE AS score FROM t
WHERE list_contains(toks, 'data') AND list_contains(toks, 'query')
  AND NOT list_contains(toks, 'join')
"""


def boolean_containment(docs: DataFrame) -> DataFrame:
    """doc ids with 'data' AND 'query' AND NOT 'join' (Q5-Q8 semantics
    over verbatim no-stem tokens)."""
    t = _toks(docs)
    return t.filter(
        F.array_contains("toks", "data")
        & F.array_contains("toks", "query")
        & ~F.array_contains("toks", "join")
    ).select("doc_id")


BOOLEAN_SQL = f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents WHERE text IS NOT NULL
)
SELECT doc_id FROM t
WHERE list_contains(toks, 'data') AND list_contains(toks, 'query')
  AND NOT list_contains(toks, 'join')
"""


POSITION_TERMS = ["data", "query", "spark"]


def positional_postings(docs: DataFrame, terms: list[str] | None = None) -> DataFrame:
    """(doc_id, term, tf, first_pos, last_pos) — the positional payload
    of the inverted index (B7's positions lists), 1-based positions."""
    terms = terms or POSITION_TERMS
    t = _toks(docs)
    rows = []
    for term in terms:
        pos = F.filter(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.element_at(F.col("toks"), i) == term,
        )
        rows.append(
            t.select(
                "doc_id",
                F.lit(term).alias("term"),
                F.size(pos).cast("long").alias("tf"),
                F.array_min(pos).cast("long").alias("first_pos"),
                F.array_max(pos).cast("long").alias("last_pos"),
            ).filter(F.col("tf") > 0)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def positional_postings_sql(terms: list[str] | None = None) -> str:
    terms = terms or POSITION_TERMS
    selects = " UNION ALL ".join(
        f"""
SELECT doc_id, '{term}' AS term,
       len(p) AS tf, list_min(p) AS first_pos, list_max(p) AS last_pos
FROM (
  SELECT doc_id,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = '{term}') AS p
  FROM t
) WHERE len(p) > 0"""
        for term in terms
    )
    return f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents WHERE text IS NOT NULL
)
{selects}
"""
