"""Trigram + Levenshtein spelling correction (Q2/Q3).

Reference semantics (/root/reference/search/src/engine/vocabulary.rs:
103-131): a term present in the vocabulary is returned as-is; otherwise
candidates are every vocabulary term sharing at least one character
trigram with the query term, ranked by ``(levenshtein, -df)`` with the
first minimum winning; terms shorter than 3 characters produce no
candidates (-> None). Candidate iteration order is trigram position
order, then sorted-term (term_id) order — reproduced here so the
tie-break picks the identical winner.

Two implementations:
- :class:`DriverVocabulary` — in-memory, used when the vocabulary fits
  on the driver (the common case; reference does exactly this).
- :func:`spellcheck_distributed` — DataFrame path for huge
  vocabularies: explode query trigrams, join a trigram->term table,
  score with the built-in ``levenshtein``, pick the minimum.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def levenshtein(s1: str, s2: str) -> int:
    """Classic DP edit distance (vocabulary.rs:133-163 is behaviorally
    standard per its own tests)."""
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1] + [0] * len(s2)
        for j, c2 in enumerate(s2):
            if c1 == c2:
                cur[j + 1] = prev[j]
            else:
                cur[j + 1] = 1 + min(prev[j], prev[j + 1], cur[j])
        prev = cur
    return prev[-1]


def trigrams(term: str) -> list[str]:
    if len(term) < 3:
        return []
    return [term[i : i + 3] for i in range(len(term) - 2)]


@dataclass
class DriverVocabulary:
    """term_id-ordered vocabulary with a trigram index (vocabulary.rs:71-89)."""

    terms: list[str]
    dfs: list[int]
    term_to_index: dict = field(init=False)
    trigram_index: dict = field(init=False)

    def __post_init__(self):
        self.term_to_index = {t: i for i, t in enumerate(self.terms)}
        self.trigram_index = {}
        for idx, term in enumerate(self.terms):
            for tg in trigrams(term):
                self.trigram_index.setdefault(tg, []).append(idx)

    def __contains__(self, term: str) -> bool:
        return term in self.term_to_index

    def get(self, term: str):
        """-> (term_id, df) or None."""
        i = self.term_to_index.get(term)
        if i is None:
            return None
        return i, self.dfs[i]

    def spellcheck_term(self, term: str) -> str | None:
        if term in self.term_to_index:
            return term
        best = None  # (lev, -df, first-seen order marker)
        best_idx = None
        for tg in trigrams(term):
            for idx in self.trigram_index.get(tg, ()):
                key = (levenshtein(term, self.terms[idx]), -self.dfs[idx])
                if best is None or key < best:
                    best = key
                    best_idx = idx
        if best_idx is None:
            return None
        return self.terms[best_idx]


def spellcheck_distributed(vocabulary: DataFrame, terms: list[str]) -> dict[str, str | None]:
    """DataFrame spellcheck for vocabularies too large for the driver.

    Same semantics as :meth:`DriverVocabulary.spellcheck_term`,
    including the exact tie-break: the reference scans candidates in
    (query-trigram position, then term_id within a trigram's posting
    list) order and keeps the FIRST strict minimum of ``(lev, -df)``
    (vocabulary.rs:103-131), so equal-key ties resolve by
    ``(first matching trigram position in the query term, term_id)`` —
    reproduced here as ``min_by (lev, -df, first_tg, term_id)``.
    """
    from pyspark.sql import functions as F

    spark = vocabulary.sparkSession
    probe = spark.createDataFrame([(t,) for t in terms], ["q_term"])

    exact = {
        r["q_term"]
        for r in probe.join(vocabulary, probe.q_term == vocabulary.term, "inner")
        .select("q_term")
        .collect()
    }
    missing = [t for t in terms if t not in exact and len(t) >= 3]
    out: dict[str, str | None] = {t: (t if t in exact else None) for t in terms}
    if not missing:
        return out

    q = spark.createDataFrame([(t,) for t in missing], ["q_term"]).select(
        "q_term",
        F.posexplode(
            F.expr(
                "transform(sequence(0, length(q_term) - 3), i -> substring(q_term, i + 1, 3))"
            )
        ).alias("tg_pos", "q_tg"),
    )
    v_tg = vocabulary.filter(F.length("term") >= 3).withColumn(
        "v_tg",
        F.explode(
            F.expr("transform(sequence(0, length(term) - 3), i -> substring(term, i + 1, 3))")
        ),
    )

    cand = (
        q.join(v_tg, q.q_tg == v_tg.v_tg)
        .groupBy("q_term", "term")
        .agg(
            F.min("tg_pos").alias("first_tg"),
            F.first("df").alias("df"),
            F.first("term_id").alias("term_id"),
        )
        .withColumn("lev", F.levenshtein("q_term", "term"))
    )
    best = cand.groupBy("q_term").agg(
        F.min_by(
            F.col("term"),
            F.struct(
                F.col("lev"),
                (-F.col("df")).alias("ndf"),
                F.col("first_tg"),
                F.col("term_id"),
            ),
        ).alias("best")
    )
    for r in best.collect():
        out[r["q_term"]] = r["best"]
    return out
