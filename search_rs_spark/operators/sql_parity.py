"""DuckDB oracle SQL for the core engine rows of the driver contract.

This module holds SQL only: each ``*_SQL`` string or ``*_sql()``
builder runs on a pre-registered ``documents`` view in DuckDB. The
Spark side of every row is the engine itself. ``__spark_entry__.py``
answers the ``core_*`` rows from the tables of a real
``build_index(stem=False)`` index (tokens, vocabulary, postings) and
from the engine's own scorer and boolean path, so there is one
implementation of tokenize / df / prune / rank / BM25 / positions, and
this oracle checks it.

Stemming is not expressible in SQL, so the rows use the no-stem
tokenizer. The ``core_*`` SQL tokenises with ``DUCK_TOKENS``
(lowercase, then extract); the engine strips non-alphanumerics first,
which ``ENGINE_DUCK_TOKENS`` reproduces. The entry hook checks that
the two agree on every document of the corpus before it answers a
``core_*`` row.
"""

from __future__ import annotations

from ..functions.text_analysis import DUCK_TOKENS
from .window_score import BM25_B, BM25_K1

MIN_F = 1
MAX_P = 0.8
BM25_QUERY_TERMS = ["spark", "data", "query"]
BM25_K = 20


DOC_LENGTHS_SQL = f"""
SELECT doc_id, len({DUCK_TOKENS}) AS doc_len
FROM documents WHERE text IS NOT NULL
"""


TERM_DF_SQL = f"""
WITH raw AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tok AS (SELECT DISTINCT doc_id, term FROM raw)
SELECT term, count(*) AS df FROM tok GROUP BY term
"""


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


POSTINGS_STATS_SQL = f"""
WITH raw AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tf AS (SELECT term, doc_id, count(*) AS tf FROM raw GROUP BY term, doc_id)
SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM tf GROUP BY term
"""


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
    ``build_index(stem=False)`` index:
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


BOOLEAN_SQL = f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents WHERE text IS NOT NULL
)
SELECT doc_id FROM t
WHERE list_contains(toks, 'data') AND list_contains(toks, 'query')
  AND NOT list_contains(toks, 'join')
"""


POSITION_TERMS = ["data", "query", "spark"]


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
