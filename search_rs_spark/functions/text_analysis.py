"""Text-analysis operators for large-scale training-data pipelines.

Each operator has a Spark DataFrame implementation and a matching
ANSI-SQL (DuckDB-dialect) oracle string over the same ``documents``
table, used by the driver correctness gate. Formulas are deliberately
expressed with engine-portable primitives (``regexp_extract_all``,
``md5``, list lambdas) so both engines compute bit-identical results.

The shared tokenizer here is the *no-stem* variant of the reference
preprocessor (/root/reference/search/src/engine/preprocessor.rs:17-24):
extracting ``[a-z0-9]+`` runs of the lowercased text yields exactly the
same token list as the reference's replace-then-split (stemming is not
expressible in SQL, so the stemmed path is checked by pytest against
the Python oracle instead).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# identical token extraction in both engines
SPARK_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
DUCK_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# tiny per-language stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "no", "es", "por", "con", "para"],
}
LANG_ORDER = ["en", "de", "fr", "es"]


def widen_scan(docs: DataFrame) -> DataFrame:
    """Spread CPU-bound per-row work across the cluster when the input
    arrives narrow (a small single-file parquet scans as ONE task, so a
    shuffle-free operator would otherwise serialize all its md5/shingle
    work on one core). Target = max(shuffle conf, the input's own scan
    width): widening a narrow input is the point, but a corpus that
    already scans wider than the conf must NOT be shrunk (that would
    serialize the work and enlarge task memory at scale).

    Scan width = 128 MB-split count for locally sizeable files (what
    Spark itself would schedule), 1 per file whose size is unknowable
    here (remote URIs), 0 when ``inputFiles`` is empty or raises
    (non-file DataFrames). DataFrame-native; no plan-to-RDD conversion.
    Shared by this module and operators/dedup.py (functions/ must not
    import from operators/)."""
    try:
        files = docs.inputFiles()
    except Exception:
        files = []
    splits = 0
    for uri in files:
        p = uri[len("file:"):] if uri.startswith("file:") else None
        if p and os.path.exists(p):
            splits += max(1, -(-os.path.getsize(p) // (128 << 20)))
        else:
            splits += 1
    conf = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return docs.repartition(max(conf, splits), F.col("doc_id"))


def _arr(words: list[str]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _lst(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_unique_tokens, avg_token_len)."""
    t = F.expr(SPARK_TOKENS)
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique_tokens"),
        F.round(
            F.coalesce(
                F.aggregate(t, F.lit(0).cast("double"), lambda a, x: a + F.length(x))
                / F.nullif(F.size(t), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("avg_token_len"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len({DUCK_TOKENS}) AS n_tokens,
       len(list_distinct({DUCK_TOKENS})) AS n_unique_tokens,
       round(coalesce(
           list_sum(list_transform({DUCK_TOKENS}, x -> len(x)))::DOUBLE
           / nullif(len({DUCK_TOKENS}), 0), 0.0::DOUBLE), 6)::DOUBLE AS avg_token_len
FROM documents
"""


# ---------------------------------------------------------------------------
# language identification (stopword-ratio heuristic)
# ---------------------------------------------------------------------------


def lang_id(docs: DataFrame, toks_col: str | None = None) -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax stopword-hit ratio.

    Tie-break: first language in LANG_ORDER; 'und' when no stopword hits.

    ``toks_col`` names a pre-tokenized column (the SPARK_TOKENS
    expression materialized upstream) so composed pipelines — see
    operators/corpus_filter.py — tokenize the corpus once instead of
    once per component; results are identical by construction.
    """
    t = F.col(toks_col) if toks_col else F.expr(SPARK_TOKENS)
    d = docs.select("doc_id", t.alias("toks"))
    for lang in LANG_ORDER:
        d = d.withColumn(
            f"r_{lang}",
            F.coalesce(
                F.size(
                    F.filter(
                        F.col("toks"),
                        lambda x: F.array_contains(
                            F.expr(_arr(LANG_STOPWORDS[lang])), x
                        ),
                    )
                ).cast("double")
                / F.nullif(F.size("toks"), F.lit(0)),
                F.lit(0.0),
            ),
        )
    best = F.greatest(*[F.col(f"r_{lang}") for lang in LANG_ORDER])
    pred = F.when(best <= 0.0, F.lit("und"))
    for lang in LANG_ORDER:
        pred = pred.when(F.col(f"r_{lang}") == best, F.lit(lang))
    return d.select(
        "doc_id",
        pred.alias("lang_pred"),
        F.round(best, 6).alias("lang_score"),
    )


def lang_id_sql() -> str:
    ratios = ",\n       ".join(
        f"coalesce(len(list_filter(toks, x -> list_contains({_lst(LANG_STOPWORDS[lang])}, x)))::DOUBLE"
        f" / nullif(len(toks), 0), 0.0) AS r_{lang}"
        for lang in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"r_{lang}" for lang in LANG_ORDER) + ")"
    case = "CASE WHEN " + best + " <= 0.0 THEN 'und' "
    for lang in LANG_ORDER:
        case += f"WHEN r_{lang} = {best} THEN '{lang}' "
    case += "END"
    return f"""
WITH tok AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
), r AS (
  SELECT doc_id, {ratios} FROM tok
)
SELECT doc_id, {case} AS lang_pred, round({best}, 6)::DOUBLE AS lang_score FROM r
"""


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_EN = LANG_STOPWORDS["en"]


def quality_scores(docs: DataFrame, toks_col: str | None = None) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, alnum_ratio, quality):
    0.4*min(n/100,1) + 0.3*min(4*stop_ratio,1) + 0.3*alnum_ratio.

    ``toks_col``: optional pre-tokenized column (same contract as
    :func:`lang_id`)."""
    t = F.col(toks_col) if toks_col else F.expr(SPARK_TOKENS)
    d = docs.select(
        "doc_id",
        F.col("text"),
        t.alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(
            F.size(
                F.filter(
                    F.col("toks"),
                    lambda x: F.array_contains(F.expr(_arr(_EN)), x),
                )
            ).cast("double")
            / F.nullif(F.size("toks"), F.lit(0)),
            F.lit(0.0),
        ).alias("stop_ratio"),
        F.coalesce(
            F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")).cast(
                "double"
            )
            / F.nullif(F.length("text"), F.lit(0)),
            F.lit(0.0),
        ).alias("alnum_ratio"),
    )
    q = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
        + F.least(F.col("stop_ratio") * 4.0, F.lit(1.0)) * 0.3
        + F.col("alnum_ratio") * 0.3
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("alnum_ratio", 6).alias("alnum_ratio"),
        F.round(q, 6).alias("quality"),
    )


QUALITY_SQL = f"""
WITH d AS (
  SELECT doc_id,
         len({DUCK_TOKENS}) AS n_tokens,
         coalesce(len(list_filter({DUCK_TOKENS},
             x -> list_contains({_lst(_EN)}, x)))::DOUBLE
             / nullif(len({DUCK_TOKENS}), 0), 0.0) AS stop_ratio,
         coalesce(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE
             / nullif(len(text), 0), 0.0) AS alnum_ratio
  FROM documents
)
SELECT doc_id, n_tokens, round(stop_ratio, 6)::DOUBLE AS stop_ratio,
       round(alnum_ratio, 6)::DOUBLE AS alnum_ratio,
       round(least(n_tokens::DOUBLE / 100.0, 1.0::DOUBLE) * 0.4::DOUBLE
             + least(stop_ratio * 4.0, 1.0::DOUBLE) * 0.3::DOUBLE
             + alnum_ratio * 0.3::DOUBLE, 6)::DOUBLE AS quality
FROM d
"""


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 over the normalized token stream — an
    order-sensitive content fingerprint robust to whitespace/punct."""
    t = F.expr(SPARK_TOKENS)
    return docs.select(
        "doc_id", F.md5(F.concat_ws(" ", t)).alias("fp")
    )


FINGERPRINTS_SQL = f"""
SELECT doc_id, md5(array_to_string({DUCK_TOKENS}, ' ')) AS fp FROM documents
"""


# ---------------------------------------------------------------------------
# BPE-ish token counting (pretokenizer piece statistics)
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer classes without lookaheads (portable to both
# Java regex and DuckDB's RE2): letter runs, digit runs, punctuation runs
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]+"
_BPE_RE_DUCK = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_pieces, n_punct_pieces, pieces_per_ws_token)
    — whitespace token count plus BPE-ish pretokenizer piece statistics
    (letter runs / digit runs / punctuation runs of the lowercased
    text). ``pieces_per_ws_token`` is the fertility proxy a tokenizer
    budget estimate needs. Pure column expressions; scales freely."""
    ws = F.expr("regexp_extract_all(text, '\\\\S+', 0)")
    pieces = F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)")
    punct = F.filter(pieces, lambda p: p.rlike("^[^a-z0-9]+$"))
    n_ws = F.size(ws).cast("long")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(punct).cast("long").alias("n_punct_pieces"),
        F.round(
            F.coalesce(
                F.size(pieces).cast("double") / F.nullif(n_ws, F.lit(0)), F.lit(0.0)
            ),
            6,
        ).alias("pieces_per_ws_token"),
    )


BPE_TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_RE_DUCK}')) AS n_pieces,
       len(list_filter(regexp_extract_all(lower(text), '{_BPE_RE_DUCK}'),
                       p -> regexp_full_match(p, '[^a-z0-9]+'))) AS n_punct_pieces,
       round(coalesce(
           len(regexp_extract_all(lower(text), '{_BPE_RE_DUCK}'))::DOUBLE
           / nullif(len(regexp_extract_all(text, '\S+')), 0),
           0.0::DOUBLE), 6)::DOUBLE AS pieces_per_ws_token
FROM documents
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling k-gram hash, min-per-window selection)
# ---------------------------------------------------------------------------

WINNOW_K = 8  # k-gram length over the normalized token stream
WINNOW_W = 4  # window of consecutive k-gram hashes; keep the min of each


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, fp) — winnowing document fingerprints (Schleimer et al.,
    MOSS): hash every character k-gram of the normalized token stream,
    slide a window of ``w`` consecutive hashes, keep each window's
    minimum (ties -> leftmost), emit the distinct selected hashes.

    Guarantees any shared substring of length >= k+w-1 contributes at
    least one common fingerprint — the standard local document sketch
    for plagiarism/near-dup detection.

    Plan shape: every window and the dedup are confined to one
    document, so the whole selection is per-row work — the
    (hash || '|' || position) array is built once per row in its own
    projection (one md5 per k-gram; the array column is referenced
    several times below, which keeps CollapseProject from inlining the
    md5 transform into each consumer — verified: one md5 site in the
    final plan), the sliding min is an ``array_min`` over a per-window
    ``slice`` of that materialized array value (slice reads the
    computed array, it does not re-evaluate the grams), and the
    per-document dedup is an ``array_distinct`` before the explode.
    Cross-document (doc_id, fp) rows are already unique after the
    per-doc dedup, so no global distinct is needed. The previous form
    posexploded one row per character and shuffled them into a
    doc_id-partitioned sliding window — rows shuffled = characters
    scanned, plus a second exchange for the global distinct; the one
    exchange left is ``widen_scan``'s repartition of the slim
    (doc_id, text) rows, which exists only to widen narrow scans
    (measured at sf0.1: 3.84 s -> 1.31 s noop, plan = 1 slim Exchange
    + 0 Window vs per-character Exchange + Window + distinct
    Exchange). Ties break leftmost because md5 hex is fixed-width,
    making lexicographic min == min by (hash, pos). Texts shorter
    than k yield no rows (the hps array is NULL and explode drops the
    row).
    """
    s = F.concat_ws(" ", F.expr(SPARK_TOKENS))
    d = widen_scan(docs).select("doc_id", s.alias("txt"))
    n_g = F.greatest(F.length("txt") - F.lit(k - 1), F.lit(0))
    hps = F.when(
        n_g > 0,
        F.transform(
            F.sequence(F.lit(1), n_g),
            lambda i: F.concat(
                F.md5(F.col("txt").substr(i, F.lit(k))),
                F.lit("|"),
                F.lpad(i.cast("string"), 12, "0"),
            ),
        ),
    )
    g = d.select("doc_id", hps.alias("hps"))
    n_keep = F.greatest(F.size("hps") - F.lit(w - 1), F.lit(1))
    sels = F.when(
        F.size("hps") > 0,
        F.transform(
            F.sequence(F.lit(1), n_keep),
            lambda i: F.substring(F.array_min(F.slice("hps", i, w)), 1, 32),
        ),
    )
    return g.select("doc_id", F.explode(F.array_distinct(sels)).alias("fp"))


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    return f"""
WITH s AS (
  SELECT doc_id, array_to_string({DUCK_TOKENS}, ' ') AS txt FROM documents
), g AS (
  SELECT doc_id,
         md5(substr(txt, i, {k})) || '|' || lpad(i::VARCHAR, 12, '0') AS hp,
         i
  FROM s, UNNEST(generate_series(1, len(txt) - {k - 1})) AS t(i)
), win AS (
  SELECT doc_id, i,
         min(hp) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS n_g
  FROM g
)
SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp
FROM win
WHERE i <= greatest(n_g - {w - 1}, 1)
"""
