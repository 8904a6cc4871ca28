"""Driver-local serving mode: ms-latency queries over the same index.

The DataFrame query path (operators/bm25.py) is the scale path; each of
its queries runs at least one Spark job. The reference, a
single-process engine, answers in milliseconds at small scale
(mod.rs:200-206 stamps time_ms). This module closes that gap for
indexes that fit in RAM: :meth:`LocalEngine.load` reads the SAME
parquet tables once with ``pyarrow.parquet`` (the serving process
imports neither pyspark nor pandas) and keeps each postings file as
zero-copy numpy views over its Arrow buffers: doc ids, per-posting
position offsets and positions. There is no global sort: the build
writes each postings file sorted by (term, block_id) with whole terms
in it, so a term is one contiguous run of rows in one file, and
``np.diff`` over ``term_id`` finds the runs. tf is the length of a
posting's position list and dl comes from one per-doc array read from
``tokens.doc_len``, so the stored ``tfs`` / ``dls`` columns are never
read. Urls and doc lengths come through :func:`read_docs`, the tokens
reader the Spark engine's k-winner url lookup shares; a doc id with no
tokens row raises ``ValueError``.

A query slices its terms' runs out of those views and scores them with
vectorised numpy: BM25 accumulated in query-token order for every hit
doc, and sorted-array set algebra for boolean queries. The window
kernel (:func:`window_score.min_windows_sorted`, property-pinned equal
to the reference's two-pointer sweep) runs only where it can change
the answer: never for one distinct term (the window is 1) nor for a doc
missing a term (u32::MAX), and for the docs holding every term in
bound-descending chunks until no bound left reaches the k-th best
score (see :meth:`LocalEngine.free_query`). No Arrow call and no
per-posting Python object runs per query, and results equal the Spark
engine's (pinned in tests/test_serving.py) and, bit for bit, windowing
every hit doc.

Use: serving replicas / interactive CLIs at small-to-medium scale;
the Spark path for batch scoring and 100 TB-scale corpora.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from .boolean import infix_to_postfix
from .spellcheck import DriverVocabulary
from .window_score import (
    BM25_B,
    BM25_K1,
    BM25_SCORE_MULTIPLIER,
    U32_MAX,
    WINDOW_SCORE_MULTIPLIER,
    # unused here, kept importable: perfbench/serve_traced.py counts calls to it
    min_window,  # noqa: F401
    min_windows_sorted,
)

# conjunction docs are windowed in bound-descending chunks of this many
WINDOW_CHUNK_DOCS = 2048

_INTS = {"int32": np.int32, "int64": np.int64}


def _parts(path: str) -> list[str]:
    """The parquet part files of one index table, in name order."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _read(path: str, columns: list[str]) -> list[dict]:
    """-> per part file, {column: Arrow array} (one chunk per column)."""
    out = []
    for f in _parts(path):
        t = pq.ParquetFile(f).read(columns=columns)
        out.append(
            {
                c: col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
                for c, col in zip(t.column_names, t.columns)
            }
        )
    return out


def read_docs(tokens: str, doc_ids, columns: list[str]) -> list:
    """-> [(part, rows)]: for each tokens file at ``tokens`` with a row
    group that may hold an id of ``doc_ids``, ``part`` maps each of
    ``columns`` (doc_id among them) to an Arrow array of those row
    groups, and ``rows`` indexes the part's rows whose doc_id was
    requested. Row groups whose doc_id min/max brackets no requested id
    are not read; the build writes tokens files in doc-id order, so k
    ids touch at most k row groups. (``pyarrow.dataset`` and
    ``pyarrow.compute`` would import pandas.)"""
    want = np.unique(np.asarray(doc_ids, dtype=np.int64))
    out = []
    for f in _parts(tokens):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        col = [md.schema.column(j).path for j in range(md.num_columns)].index("doc_id")
        keep = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            if (
                st is None
                or not st.has_min_max
                or np.searchsorted(want, st.min) < np.searchsorted(want, st.max, "right")
            ):
                keep.append(g)
        if keep:
            t = pf.read_row_groups(keep, columns=columns)
            part = {
                c: a.chunk(0) if a.num_chunks == 1 else a.combine_chunks()
                for c, a in zip(t.column_names, t.columns)
            }
            out.append((part, np.flatnonzero(np.isin(_view(part["doc_id"]), want))))
    return out


def _largest(values: np.ndarray, k: int) -> np.ndarray:
    """The k largest of ``values`` (all of them when there are fewer)."""
    if values.size <= k:
        return values
    return np.partition(values, values.size - k)[values.size - k :]


def _window_conjunction(final, bm_norm, conj, terms, nt, k) -> None:
    """Overwrite ``final`` at the conjunction docs ``conj`` (indices into
    the hit docs) with their exact scores: chunk by chunk, the
    WINDOW_CHUNK_DOCS largest bounds left, while a bound left is not below
    the k-th best exact score. ``terms`` holds, per window id, the term's
    (doc_ids, tfs, dls, positions) and the posting of each doc of
    ``conj``. A doc left unscored keeps its bound, which is below k exact
    scores, so it cannot reach the top k."""
    n_ids = len(terms)
    bound = WINDOW_SCORE_MULTIPLIER * (nt / n_ids) + bm_norm[conj]
    # per window id: the conjunction docs' doc ids, tfs and first positions
    per_id = [
        (docs[post], tfs[post], (np.cumsum(tfs) - tfs)[post], flat)
        for (docs, tfs, _, flat), post in terms
    ]
    rest = np.ones(final.size, dtype=bool)
    rest[conj] = False
    best = _largest(final[rest], k)
    left = np.arange(conj.size)
    while left.size:
        if left.size > WINDOW_CHUNK_DOCS:
            cut = np.argpartition(bound[left], left.size - WINDOW_CHUNK_DOCS)
            sel, left = left[cut[-WINDOW_CHUNK_DOCS:]], left[cut[:-WINDOW_CHUNK_DOCS]]
        else:
            sel, left = left, left[:0]
        sel = np.sort(sel)  # doc order, as the pairs sort by doc
        keys, qids = [], []
        sizes = np.zeros(sel.size, dtype=np.int64)
        for qid, (docs, tfs, first, flat) in enumerate(per_id):
            lens = tfs[sel]
            ends = np.cumsum(lens)
            idx = np.repeat(first[sel] - ends + lens, lens) + np.arange(ends[-1])
            # a position holds one token, so (doc, pos) orders the pairs
            # totally and qid never breaks a tie
            keys.append((np.repeat(docs[sel], lens).astype(np.int64) << 32) | flat[idx])
            qids.append(np.full(idx.size, qid, dtype=np.int64))
            sizes += lens
        key = np.concatenate(keys)
        by = np.argsort(key, kind="stable")
        w = min_windows_sorted(key[by] & 0xFFFFFFFF, np.concatenate(qids)[by], sizes, n_ids)
        at_sel = conj[sel]
        final[at_sel] = WINDOW_SCORE_MULTIPLIER * (nt / w) + bm_norm[at_sel]
        best = _largest(np.concatenate([best, final[at_sel]]), k)
        if best.size == k:
            left = left[bound[left] >= best.min()]


def _pick(arr, rows: np.ndarray) -> list:
    """The values of Arrow ``arr`` at the sorted, distinct ``rows``."""
    if rows.size == len(arr):
        return arr.to_pylist()
    return [arr[i].as_py() for i in rows.tolist()]


def urls_in_order(where: str, doc_ids, got_ids, got_urls) -> list:
    """The urls of ``doc_ids``, in their order, from the (got_ids,
    got_urls) rows read out of ``where``. A requested id with no row
    raises ``ValueError``: a result row must never carry a missing url."""
    by_id = dict(zip(got_ids, got_urls))
    for d in doc_ids:
        if d not in by_id:
            raise ValueError(f"{where}: no tokens row (url) for doc_id {d}")
    return [by_id[d] for d in doc_ids]


def read_urls(tokens: str, doc_ids: "list[int]") -> list:
    """The urls of ``doc_ids``, in their order (see :func:`read_docs`)."""
    got_ids, got_urls = [], []
    for part, rows in read_docs(tokens, doc_ids, ["doc_id", "url"]):
        got_ids += _view(part["doc_id"])[rows].tolist()
        got_urls += _pick(part["url"], rows)
    return urls_in_order(tokens, doc_ids, got_ids, got_urls)


def _view(arr) -> np.ndarray:
    """Zero-copy numpy view of a null-free Arrow int32/int64 array
    (``np.asarray`` / ``to_numpy`` would import pandas)."""
    if arr.null_count:
        raise ValueError(f"null in an index column of type {arr.type}")
    dtype = _INTS[str(arr.type)]
    if len(arr) == 0:
        return np.empty(0, dtype=dtype)
    return np.frombuffer(arr.buffers()[1], dtype=dtype)[arr.offset : arr.offset + len(arr)]


@dataclass
class _Segment:
    """One postings file's list columns, flattened to numpy views."""

    doc_ids: np.ndarray  # posting -> doc id
    offsets: np.ndarray  # posting -> first position; one more entry than postings
    positions: np.ndarray  # int32 token positions


def _segment(part: dict, where: str):
    """-> (segment, run term_ids, run first postings, run end postings)
    of one postings file. A run is a maximal block of rows with one
    term_id; each must hold strictly ascending doc ids, as the build's
    (term, block_id) file order and its sorted blocks give."""
    tids = _view(part["term_id"])
    docs, pos = part["doc_ids"], part["positions"]
    row_at = _view(docs.offsets)  # row -> first posting
    if not np.array_equal(row_at, _view(pos.offsets)):
        raise ValueError(f"{where}: doc_ids and positions lists differ in length")
    seg = _Segment(_view(docs.values), _view(pos.values.offsets), _view(pos.values.values))
    starts = np.concatenate(([0], np.flatnonzero(tids[1:] != tids[:-1]) + 1))
    lo = row_at[starts]
    hi = row_at[np.append(starts[1:], tids.size)]
    d = seg.doc_ids[row_at[0] : row_at[-1]]
    down = d[1:] <= d[:-1]
    down[lo[1:] - row_at[0] - 1] = False  # a new run may start lower
    if down.any():
        raise ValueError(f"{where}: a term's doc ids are not in ascending order")
    return seg, tids[starts], lo, hi


@dataclass
class LocalEngine:
    num_docs: int
    avgdl: float
    vocab: DriverVocabulary
    # doc_id -> url, plus a trailing None for id num_docs: the
    # reference's empty-NOT quirk answers ids 1..=n, and id n has no doc
    urls: list
    # term -> (segment, first posting, end posting): the term's run of
    # postings, in block (= doc) order, in segments[segment]
    rows: dict
    segments: list
    # doc_id -> doc_len (tokens.doc_len), the BM25 dl of every posting
    doc_lens: np.ndarray
    # query preprocessing must equal build preprocessing (Q1 ≡ B3):
    # a stem=False index gets the tokenize-only query path, same as
    # bm25.resolve_query_terms
    stem: bool = True

    @classmethod
    def load(cls, path: str) -> "LocalEngine":
        with open(os.path.join(path, "stats", "data.json")) as f:
            stats = json.load(f)
        n = stats["num_docs"]

        terms, dfs, term_ids = [], [], []
        for part in _read(os.path.join(path, "vocabulary"), ["term", "term_id", "df"]):
            terms += part["term"].to_pylist()
            dfs += part["df"].to_pylist()
            term_ids.append(_view(part["term_id"]))
        by_id = np.argsort(np.concatenate(term_ids), kind="stable")
        term_ids = np.concatenate(term_ids)[by_id]
        terms = [terms[i] for i in by_id.tolist()]
        dfs = [dfs[i] for i in by_id.tolist()]

        tokens = os.path.join(path, "tokens")
        doc_lens = np.zeros(n + 1, dtype=np.int32)
        got_ids, got_urls = [], []
        for part, rows in read_docs(tokens, np.arange(n), ["doc_id", "url", "doc_len"]):
            ids = _view(part["doc_id"])[rows]
            doc_lens[ids] = _view(part["doc_len"])[rows]
            got_ids += ids.tolist()
            got_urls += _pick(part["url"], rows)
        urls = urls_in_order(tokens, range(n), got_ids, got_urls) + [None]

        postings = os.path.join(path, "postings")
        segments, runs = [], []
        for part in _read(postings, ["term_id", "doc_ids", "positions"]):
            if len(part["term_id"]):
                seg, *run = _segment(part, postings)
                runs.append((np.full(run[0].size, len(segments)), *run))
                segments.append(seg)
        rows: dict = {}
        if runs:
            seg_no, run_ids, lo, hi = (np.concatenate(c) for c in zip(*runs))
            at = np.searchsorted(term_ids, run_ids)
            if (at >= term_ids.size).any() or (term_ids[at] != run_ids).any():
                raise ValueError(f"{postings}: a term_id is missing from the vocabulary")
            ids, counts = np.unique(run_ids, return_counts=True)
            if (counts > 1).any():
                term = terms[int(np.searchsorted(term_ids, ids[counts > 1][0]))]
                raise ValueError(
                    f"{postings}: term {term!r} has rows in two runs; "
                    "each term's rows must be contiguous in one postings file"
                )
            rows = dict(
                zip(
                    [terms[i] for i in at.tolist()],
                    zip(seg_no.tolist(), lo.tolist(), hi.tolist()),
                )
            )

        return cls(
            num_docs=n,
            avgdl=stats["avgdl"],
            vocab=DriverVocabulary(terms=terms, dfs=dfs),
            urls=urls,
            rows=rows,
            segments=segments,
            doc_lens=doc_lens,
            stem=bool(stats.get("stem", True)),
        )

    def _doc_ids(self, term: str) -> np.ndarray:
        """The sorted doc ids of ``term``: a view of the resident buffer."""
        s, p0, p1 = self.rows[term]
        return self.segments[s].doc_ids[p0:p1]

    def _read_postings(self, term: str):
        """-> (doc_ids, tfs, dls, positions) of one term: slices of the
        resident views (positions stay int32). A posting's tf is its
        position count, so the positions split per posting by ``tfs``."""
        s, p0, p1 = self.rows[term]
        seg = self.segments[s]
        docs = seg.doc_ids[p0:p1]
        offs = seg.offsets[p0 : p1 + 1]
        return docs, np.diff(offs), self.doc_lens[docs], seg.positions[offs[0] : offs[-1]]

    def free_query(self, query: str, k: int = 100):
        """-> [(doc_id, url, score)] — identical to operators.bm25.

        Every hit doc gets BM25 (``bm/dl``); the window kernel runs only
        where it can change the answer:

        - one distinct term: every hit doc holds all nt query ids on one
          shared position list, so the window is 1 and the score the
          closed form ``3·(nt/1) + bm/dl``, as in bm25._candidates_sql;
        - a doc missing a distinct term (every doc, when a spellchecked
          token has no postings) has window u32::MAX: exact at once;
        - a conjunction doc's window covers n_distinct distinct
          positions, so ``w >= n_distinct``, and the score's own
          expression with ``w = n_distinct`` is a bound ``>=`` the score
          bit for bit (IEEE division and addition are monotone). The
          conjunction docs are windowed in bound-descending chunks of
          :data:`WINDOW_CHUNK_DOCS` until every bound left is strictly
          below the k-th best exact score so far (MaxScore, Ding & Suel:
          the docs left can neither beat nor tie it), see
          :func:`_window_conjunction`. Scores, doc ids and tie order
          equal windowing every hit doc."""
        from ..functions.tokenizer import tokenize, tokenize_and_stem

        toks = tokenize_and_stem(query) if self.stem else tokenize(query)
        tokens = []
        for t in toks:
            c = self.vocab.spellcheck_term(t)
            if c is not None:
                tokens.append(c)
        if not tokens or k < 1:
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
        # Window ids are the DISTINCT tokens: a repeated token's copies
        # share every position, so the minimal window over them equals
        # the one over all nt ids that the Spark engine computes.
        distinct = list(dict.fromkeys(tokens))
        if len(read) == 1:  # one term's doc ids are sorted and unique
            uniq = next(iter(read.values()))[0]
            at = {tok: slice(None) for tok in read}
        else:
            # so is each term's run in cat: a stable argsort merges the
            # runs, and a posting's hit doc is its run of equal ids
            cat = np.concatenate([r[0] for r in read.values()])
            by = np.argsort(cat, kind="stable")
            merged = cat[by]
            new_doc = np.empty(cat.size, dtype=bool)
            new_doc[0] = True
            np.not_equal(merged[1:], merged[:-1], out=new_doc[1:])
            uniq = merged[new_doc]
            hit = np.empty(cat.size, dtype=np.int64)
            hit[by] = np.cumsum(new_doc) - 1
            held = np.bincount(hit, minlength=uniq.size)  # distinct terms per doc
            ends = np.cumsum([r[0].size for r in read.values()])
            at = dict(zip(read, np.split(hit, ends[:-1])))
        m = uniq.size
        scores = np.zeros(m, dtype=np.float64)
        dl_arr = np.ones(m, dtype=np.int64)
        # The bm term keeps the Spark engine's per-element operator
        # order (bm25.py); scores accumulate in ascending-qid order (doc
        # ids are unique within one term's postings, so fancy-index +=
        # is one add per doc per qid).
        for tok, idf in idfs:
            _, tfs, dls, _ = read[tok]
            tf = tfs.astype(np.float64)
            dlf = dls.astype(np.float64)
            bm = (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dlf) / avgdl))
            )
            scores[at[tok]] += bm
            dl_arr[at[tok]] = dls
        bm_norm = BM25_SCORE_MULTIPLIER * (scores / dl_arr)
        nt = len(tokens)
        w = 1 if len(distinct) == 1 else U32_MAX
        final = WINDOW_SCORE_MULTIPLIER * (nt / w) + bm_norm
        if len(distinct) > 1 and len(read) == len(distinct):
            conj = np.flatnonzero(held == len(distinct))
            if conj.size:
                # per distinct term, in window-id order: its postings and
                # the posting of each conjunction doc (both in doc order)
                terms = [(read[t], np.flatnonzero(held[at[t]] == len(distinct))) for t in distinct]
                _window_conjunction(final, bm_norm, conj, terms, nt, k)
        if m > k:  # the k-th best and its ties, then their exact order
            cut = np.partition(final, m - k)[m - k]
            cand = np.flatnonzero(final >= cut)
        else:
            cand = np.arange(m)
        top = cand[np.lexsort((uniq[cand], -final[cand]))[:k]]
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
                    stack.append(self._doc_ids(c))
        return [(d, self.urls[d], 1.0) for d in stack.pop().tolist()]
