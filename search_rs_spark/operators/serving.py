"""Driver-local serving mode: ms-latency queries over the same index.

The DataFrame query path (operators/bm25.py) is the scale path; its
latency floor is Spark job scheduling (~0.5-1 s). The reference, a
single-process engine, answers in milliseconds at small scale
(mod.rs:200-206 stamps time_ms). This module closes that gap for
indexes that fit in RAM: :meth:`LocalEngine.load` reads the SAME
parquet tables once through pyarrow (no Spark) and keeps the postings
resident as Arrow list buffers. A query slices a term's rows out of
those buffers as zero-copy numpy views and scores them with vectorised
numpy: BM25 accumulated in query-token order, the batch window kernel
(property-pinned equal to the reference's two-pointer sweep), and
sorted-array set algebra for boolean queries. No per-posting Python
object is ever built, so results equal the Spark engine's (pinned in
tests/test_serving.py).

Use: serving replicas / interactive CLIs at small-to-medium scale;
the Spark path for batch scoring and 100 TB-scale corpora.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

from ..plans.build import BM25_B, BM25_K1
from .boolean import infix_to_postfix
from .spellcheck import DriverVocabulary
from .window_score import (
    BM25_SCORE_MULTIPLIER,
    WINDOW_SCORE_MULTIPLIER,
    # unused here, kept importable: perfbench/serve_traced.py counts calls to it
    min_window,  # noqa: F401
    min_windows_batch,
)

_LIST_COLUMNS = ("doc_ids", "tfs", "dls", "positions")


def _i64(arr):
    """numpy int64 view of an Arrow int array (a copy only where the
    stored ints are narrower)."""
    return np.asarray(arr).astype(np.int64, copy=False)


@dataclass
class LocalEngine:
    num_docs: int
    avgdl: float
    vocab: DriverVocabulary
    # doc_id -> url, plus a trailing None for id num_docs: the
    # reference's empty-NOT quirk answers ids 1..=n, and id n has no doc
    urls: list
    # term -> [first, end) rows of its blocks, in block (= doc) order,
    # in the resident postings list columns below
    rows: dict
    # name -> pyarrow ListArray over every postings row (_LIST_COLUMNS)
    postings: dict
    # query preprocessing must equal build preprocessing (Q1 ≡ B3):
    # a stem=False index gets the tokenize-only query path, same as
    # bm25.resolve_query_terms
    stem: bool = True

    @classmethod
    def load(cls, path: str) -> "LocalEngine":
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        def read(table: str, columns: list[str]):
            return ds.dataset(os.path.join(path, table), format="parquet").to_table(
                columns=columns
            )

        with open(os.path.join(path, "stats", "data.json")) as f:
            stats = json.load(f)
        n = stats["num_docs"]

        v_tab = read("vocabulary", ["term", "term_id", "df"]).sort_by("term_id")

        d_tab = read("tokens", ["doc_id", "url"]).to_pydict()
        urls = [None] * (n + 1)
        for d, u in zip(d_tab["doc_id"], d_tab["url"]):
            urls[d] = u

        p_tab = read("postings", ["term", "block_id", *_LIST_COLUMNS])
        p_tab = p_tab.take(
            pc.sort_indices(p_tab, [("term", "ascending"), ("block_id", "ascending")])
        ).combine_chunks()
        rows: dict = {}
        for i, t in enumerate(p_tab["term"].to_pylist()):
            rows[t] = (rows[t][0] if t in rows else i, i + 1)

        return cls(
            num_docs=n,
            avgdl=stats["avgdl"],
            vocab=DriverVocabulary(
                terms=v_tab["term"].to_pylist(), dfs=v_tab["df"].to_pylist()
            ),
            urls=urls,
            rows=rows,
            postings={c: p_tab[c].chunk(0) for c in _LIST_COLUMNS},
            stem=bool(stats.get("stem", True)),
        )

    def _flat(self, name: str, term: str):
        """One postings list column of ``term``, merged across its
        blocks: a zero-copy slice of the resident buffer."""
        r0, r1 = self.rows[term]
        return self.postings[name].slice(r0, r1 - r0).flatten()

    def _read_postings(self, term: str):
        """-> (doc_ids, tfs, dls, positions, positions per posting) of
        one term, as int64 numpy arrays."""
        per_posting = self._flat("positions", term)
        return (
            _i64(self._flat("doc_ids", term)),
            _i64(self._flat("tfs", term)),
            _i64(self._flat("dls", term)),
            _i64(per_posting.flatten()),
            np.diff(_i64(per_posting.offsets)),
        )

    def free_query(self, query: str, k: int = 100):
        """-> [(doc_id, url, score)] — identical to operators.bm25."""
        from ..functions.tokenizer import tokenize, tokenize_and_stem

        toks = tokenize_and_stem(query) if self.stem else tokenize(query)
        tokens = []
        for t in toks:
            c = self.vocab.spellcheck_term(t)
            if c is not None:
                tokens.append(c)
        if not tokens:
            return []
        n = float(self.num_docs)
        avgdl = self.avgdl or 1.0
        # one postings read per distinct token; a token repeated in the
        # query reuses it
        read: dict = {}
        idfs = []
        for tok in tokens:
            got = self.vocab.get(tok)
            if got is None or tok not in self.rows:
                continue
            _, df = got
            idfs.append((tok, math.log((n - df + 0.5) / (df + 0.5) + 1.0)))
            if tok not in read:
                read[tok] = self._read_postings(tok)
        if not read:
            return []
        uniq = np.unique(np.concatenate([r[0] for r in read.values()]))
        at = {tok: np.searchsorted(uniq, r[0]) for tok, r in read.items()}
        m = uniq.size
        scores = np.zeros(m, dtype=np.float64)
        dl_arr = np.ones(m, dtype=np.int64)
        # The bm term keeps the Spark engine's per-element operator
        # order (bm25.py); scores accumulate in ascending-qid order (doc
        # ids are unique within one term's postings, so fancy-index +=
        # is one add per doc per qid).
        for tok, idf in idfs:
            _, tfs, dls, _, _ = read[tok]
            tf = tfs.astype(np.float64)
            dlf = dls.astype(np.float64)
            bm = (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dlf) / avgdl))
            )
            scores[at[tok]] += bm
            dl_arr[at[tok]] = dls
        # Window ids are the DISTINCT tokens: a repeated token's copies
        # share every position, so the minimal window over them equals
        # the one over all nt ids that the Spark engine computes, and the
        # pair arrays stay bounded by the index, not by the query length.
        # A token without postings keeps an id, so no window covers.
        wid = {t: i for i, t in enumerate(dict.fromkeys(tokens))}
        pair_doc, pair_pos, pair_qid = [], [], []
        for tok, (_, _, _, flat, lens) in read.items():
            pair_doc.append(np.repeat(at[tok], lens))
            pair_pos.append(flat)
            pair_qid.append(np.full(flat.size, wid[tok], dtype=np.int64))
        pdoc = np.concatenate(pair_doc)
        ppos = np.concatenate(pair_pos)
        pqid = np.concatenate(pair_qid)
        order = np.argsort(pdoc, kind="stable")
        w = min_windows_batch(
            ppos[order], pqid[order], np.bincount(pdoc, minlength=m), len(wid)
        )
        nt = len(tokens)
        final = WINDOW_SCORE_MULTIPLIER * (nt / w) + BM25_SCORE_MULTIPLIER * (
            scores / dl_arr
        )
        top = np.lexsort((uniq, -final))[:k]
        return [
            (d, self.urls[d], s)
            for d, s in zip(uniq[top].tolist(), final[top].tolist())
        ]

    def boolean_query(self, query: str):
        """-> [(doc_id, url, 1.0)] — identical to operators.boolean,
        including the reference's NOT-on-empty -> 1..=n quirk."""
        # operands are sorted, duplicate-free id arrays, so numpy set
        # algebra equals the reference's set/list form
        stack: list = []
        n = self.num_docs
        for p in infix_to_postfix(query):
            if p == "AND":
                b, a = stack.pop(), stack.pop()
                stack.append(np.intersect1d(a, b))
            elif p == "OR":
                b, a = stack.pop(), stack.pop()
                stack.append(np.union1d(a, b))
            elif p == "NOT":
                a = stack.pop()
                if len(a) == 0:
                    stack.append(np.arange(1, n + 1, dtype=np.int64))
                else:
                    mask = np.ones(n, dtype=bool)
                    mask[a[a < n]] = False
                    stack.append(np.flatnonzero(mask))
            else:
                c = self.vocab.spellcheck_term(p)
                if c is None or c not in self.rows:
                    stack.append(np.empty(0, dtype=np.int64))
                else:
                    stack.append(_i64(self._flat("doc_ids", c)))
        return [(d, self.urls[d], 1.0) for d in stack.pop().tolist()]
