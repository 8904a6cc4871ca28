"""Seeded inputs: a web-text corpus written to parquet, and query streams
sampled from the corpus's own word counts.

The corpus mirrors the shape of the package's synthetic web text
(Zipf(s=1.07) word ranks, log-uniform document lengths around a mean,
a few null and non-English rows) but is generated here with numpy so
the program sees only finished inputs and a run spends its time on
the program, not on making data. Word counts are read back with
duckdb, never through the package.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np

from common import MEAN_LEN, N_DOCS, VOCAB_SIZE

ZIPF_S = 1.07
NULL_FRAC = 0.002
NON_EN_FRAC = 0.01
HEAD_WORDS = 50  # df rank < 50: head band
MID_WORDS = 1000  # df rank < 1000: mid band; the rest (df >= 2): tail
MISSPELL_FRAC = 0.10
REDRAWS = 20

_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Fixed pseudo-word list, shortest words at the most frequent ranks
    (as in natural text). Independent of the seed: the seed varies the
    documents and queries, not the language."""
    rng = np.random.default_rng(0)
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n_syl = int(rng.integers(1, 5))
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w not in words:
            words.add(w)
            out.append(w)
    out.sort(key=len)  # stable: ties keep generation order
    return out


def _zipf_ranks(u: np.ndarray, n_words: int, s: float = ZIPF_S) -> np.ndarray:
    c = (n_words ** (1.0 - s) - 1.0) * u + 1.0
    return np.minimum(np.floor(c ** (1.0 / (1.0 - s))).astype(np.int64), n_words) - 1


def make_corpus(
    seed: int,
    path: Path,
    n_docs: int = N_DOCS,
    exact_dup_frac: float = 0.0,
    near_dup_frac: float = 0.0,
) -> dict:
    """Write ``(url, warc_ts, html, text, lang)`` parquet; returns facts
    the checks need (row counts, text bytes, planted duplicate pairs as
    (source row, copy row) — the row index is also the dedup doc_id)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(vocabulary())
    u_len = rng.random(n_docs)
    lens = np.maximum(1, np.exp(math.log(MEAN_LEN) + (u_len - 0.5) * 1.6).astype(np.int64))
    ranks = _zipf_ranks(rng.random(int(lens.sum())), len(words))
    toks = words[ranks]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts: list[str | None] = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    u_lang = rng.random(n_docs)
    langs = ["en"] * n_docs
    for i in range(n_docs):
        if u_lang[i] < NULL_FRAC:
            texts[i] = None
        elif u_lang[i] < NULL_FRAC + NON_EN_FRAC:
            langs[i] = ("de", "fr", "es", "zh", "pt")[i % 5]

    # planted duplicates: copies of long-enough documents appended as new rows
    eligible = [i for i in range(n_docs) if texts[i] is not None and lens[i] >= 20]
    n_exact = int(round(n_docs * exact_dup_frac))
    n_near = int(round(n_docs * near_dup_frac))
    picks = rng.choice(len(eligible), size=n_exact + n_near, replace=False) if eligible else []
    exact_pairs, near_pairs = [], []
    for j, p in enumerate(picks):
        src = eligible[int(p)]
        if j < n_exact:
            texts.append(texts[src])
            exact_pairs.append((src, len(texts) - 1))
        else:
            t = texts[src].split(" ")
            # replace ~1 token in 12 (at least one): shingle Jaccard ~0.7
            for k in rng.choice(len(t), size=max(1, len(t) // 12), replace=False):
                t[int(k)] = words[int(rng.integers(len(words)))]
            texts.append(" ".join(t))
            near_pairs.append((src, len(texts) - 1))
        langs.append("en")

    n_rows = len(texts)
    epoch = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    table = pa.table(
        {
            "url": [f"https://bench.local/s{seed}/{i:07d}.html" for i in range(n_rows)],
            "warc_ts": pa.array(
                [epoch + datetime.timedelta(seconds=i) for i in range(n_rows)],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": [
                None if t is None else f"<html><head></head><body><p>{t}</p></body></html>".encode()
                for t in texts
            ],
            "text": texts,
            "lang": langs,
        }
    )
    pq.write_table(table, path)
    non_null = [t for t in texts if t is not None]
    return {
        "rows": n_rows,
        "non_null_rows": len(non_null),
        "text_bytes": sum(len(t.encode()) for t in non_null),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
    }


def read_corpus(path: Path) -> list[tuple[str, str | None]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"]).to_pydict()
    return list(zip(t["url"], t["text"]))


def word_dfs(path: Path) -> list[tuple[str, int]]:
    """(word, document frequency), most frequent first, via duckdb."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            """
            SELECT w, count(DISTINCT url) AS df FROM (
              SELECT url, unnest(string_split(lower(text), ' ')) AS w
              FROM read_parquet(?) WHERE text IS NOT NULL)
            WHERE w <> '' GROUP BY w ORDER BY df DESC, w
            """,
            [str(path)],
        ).fetchall()
    finally:
        con.close()


def query_shapes(n: int, boolean_share: float) -> list[tuple]:
    """The structure of the i-th query, the same for every seed:
    ``("boolean", form, positions)`` or ``("free", ((band, position),
    ...), misspelled term index or -1)``, where a position in [0, 1)
    says where in its df band a word sits. The seed picks the word near
    that position, so every seed sends the same mix of query shapes and
    word frequencies in the same order and popularity ranks: a query's
    cost is set by its words' dfs, and this keeps that mix the same."""
    rng = np.random.default_rng(0)
    out: list[tuple] = []
    for _ in range(n):
        if rng.random() < boolean_share:
            out.append(("boolean", int(rng.integers(4)), tuple(rng.random(4))))
            continue
        n_terms = int(rng.integers(1, 5))
        terms = tuple(
            ("head" if r < 0.3 else "mid" if r < 0.7 else "tail", float(u))
            for r, u in zip(rng.random(n_terms), rng.random(n_terms))
        )
        miss = int(rng.integers(n_terms)) if rng.random() < MISSPELL_FRAC else -1
        out.append(("free", terms, miss))
    return out


class QuerySampler:
    """Fills query shapes with words from head / mid / tail df bands;
    a misspelled term is a word of >= 5 chars with one letter changed,
    so the trigram spellcheck runs."""

    def __init__(self, seed: int, dfs: list[tuple[str, int]]):
        self.rng = np.random.default_rng(seed + 7919)
        ranked = [w for w, _ in dfs]
        n_tail = sum(df >= 2 for _, df in dfs[MID_WORDS:])
        # (words, df rank of the first word)
        self.bands = {
            "head": (ranked[:HEAD_WORDS], 0),
            "mid": (ranked[HEAD_WORDS:MID_WORDS], HEAD_WORDS),
            "tail": (ranked[MID_WORDS : MID_WORDS + n_tail], MID_WORDS),
        }
        self.long_words = ([w for w in ranked[HEAD_WORDS : MID_WORDS + n_tail] if len(w) >= 5], 0)

    def _at(self, band: tuple[list[str], int], position: float) -> str:
        """The word at ``position`` in the band, moved by up to 5% of its
        df rank: a word of about the same df, so about the same cost."""
        words, first_rank = band
        i = int(position * len(words))
        spread = (first_rank + i) // 20
        i += int(self.rng.integers(-spread, spread + 1))
        return words[min(max(i, 0), len(words) - 1)]

    def _misspell(self, word: str) -> str:
        i = int(self.rng.integers(1, len(word) - 1))
        repl = [c for c in "abcdefghiklmnoprstuvz" if c != word[i]]
        return word[:i] + repl[int(self.rng.integers(len(repl)))] + word[i + 1 :]

    def query(self, shape: tuple) -> str:
        if shape[0] == "boolean":
            return self._boolean(shape[1], shape[2])
        _, terms, miss = shape
        words = [self._at(self.bands[band], pos) for band, pos in terms]
        if miss >= 0:
            if len(words[miss]) < 5:
                words[miss] = self._at(self.long_words, terms[miss][1])
            words[miss] = self._misspell(words[miss])
        return " ".join(words)

    def _boolean(self, form: int, pos: tuple) -> str:
        a = self._at(self.bands["mid"], pos[0])
        b = self._at(self.bands["tail"], pos[1])
        c = self._at(self.bands["mid"], pos[2])
        if form == 0:
            return f"{a} AND {c}"
        if form == 1:
            return f"{a} OR {b}"
        if form == 2:
            return f"{a} AND NOT {self._at(self.bands['head'], pos[3])}"
        return f"({a} OR {b}) AND {c}"

    def distinct(self, shapes: list[tuple], taken: set[str]) -> list[str]:
        """One query per shape, redrawing words until each is new. A
        shape whose words run out (one head term has only 50 choices)
        gets one more tail term."""
        out = []
        for shape in shapes:
            q = self.query(shape)
            tries = 0
            while q in taken:
                tries += 1
                q = self.query(shape)
                if tries >= REDRAWS:
                    tail = self.bands["tail"][0]
                    q += " " + tail[int(self.rng.integers(len(tail)))]
            taken.add(q)
            out.append(q)
        return out
