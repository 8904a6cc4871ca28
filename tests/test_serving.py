"""Driver-local serving engine must equal the Spark DataFrame engine."""

import math
import os
import time

import pytest

from search_rs_spark.operators.bm25 import free_query
from search_rs_spark.operators.boolean import boolean_query
from search_rs_spark.operators.serving import LocalEngine
from search_rs_spark.oracle import build_oracle, oracle_boolean_query
from search_rs_spark.plans.build import build_index
from search_rs_spark.plans.index import SearchIndex
from search_rs_spark.sources.webtext import synthesize_webtext


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_serve"))
    wt = synthesize_webtext(spark, 150, seed=17, vocab_size=250, mean_len=35)
    build_index(spark, wt, out, corpus_fingerprint="serve150")
    oracle = build_oracle([(r["url"], r["text"]) for r in wt.select("url", "text").collect()])
    return SearchIndex.load(spark, out), LocalEngine.load(out), oracle


@pytest.mark.parametrize(
    "q", ["the world of men", "time year people", "wrk lyfe", "the the"]
)
def test_local_equals_spark_free(engines, q):
    idx, local, _ = engines
    s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 30).collect()]
    l = local.free_query(q, 30)
    assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l]
    for (_, _, ss), (_, _, ls) in zip(s, l):
        assert math.isclose(ss, ls, rel_tol=1e-9)


def test_local_long_repeated_query_equals_spark(engines, monkeypatch):
    """A query repeating a common term many times keeps the window
    kernel's memory bounded (window ids are the distinct tokens; the
    last-seen matrix is chunked, here forced to tiny chunks) and still
    equals the Spark engine, which scores every repeated id."""
    from search_rs_spark.operators import window_score as ws

    idx, local, _ = engines
    q = " ".join(["the"] * 30 + ["time", "world", "the"])
    s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 30).collect()]
    monkeypatch.setattr(ws, "_BATCH_MATRIX_CELLS", 8)
    l = local.free_query(q, 30)
    assert len(s) == 30
    assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l]
    for (_, _, ss), (_, _, ls) in zip(s, l):
        assert math.isclose(ss, ls, rel_tol=1e-9)


@pytest.mark.parametrize(
    "q", ["the AND time", "people OR year", "NOT the", "(time OR year) AND NOT people"]
)
def test_local_equals_spark_boolean(engines, q):
    idx, local, _ = engines
    s = [(r["doc_id"], r["url"]) for r in boolean_query(idx, q).collect()]
    l = [(d, u) for d, u, _ in local.boolean_query(q) if u is not None]
    assert s == l


def test_local_empty_not_quirk_equals_oracle(engines):
    """NOT of an operand that matches nothing answers ids 1..=n, the
    reference's quirk (postings.rs:179-181); id n is no document, so
    its url is None."""
    _, local, oracle = engines
    got = local.boolean_query("NOT zzzqqq")
    assert [d for d, _, _ in got] == list(range(1, local.num_docs + 1))
    assert got[-1][1] is None
    assert got == oracle_boolean_query(oracle, "NOT zzzqqq")


def test_driver_vocab_guard_fires_before_collect(engines, monkeypatch):
    """An over-threshold vocabulary must raise the routing RuntimeError
    WITHOUT collecting the vocabulary — at scale, collect-then-check
    would OOM the driver before the guard could fire. The row count
    comes from the stage manifest (no Spark job), so any collect during
    the check is a regression."""
    import pyspark.sql

    from search_rs_spark.plans import index as index_mod

    idx, _, _ = engines
    fresh = SearchIndex.load(idx.spark, idx.path)  # no cached driver vocab
    monkeypatch.setattr(index_mod, "DRIVER_VOCAB_MAX_TERMS", 1)

    def no_collect(self):
        raise AssertionError("driver_vocab collected before the size check")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", no_collect)
    with pytest.raises(RuntimeError, match="too large"):
        fresh.driver_vocab()


def test_local_latency_is_ms(engines):
    _, local, _ = engines
    local.free_query("warmup", 10)
    t0 = time.time()
    for _ in range(20):
        local.free_query("the world of men", 100)
    per_query = (time.time() - t0) / 20
    assert per_query < 0.05, per_query  # ms-scale, not Spark-job-scale


def test_local_equals_spark_on_nostem_index(spark, tmp_path_factory):
    """Q1 ≡ B3 on BOTH surfaces: an index built with stem=False must get
    the tokenize-only query path in the driver-local engine too, or
    serving results diverge from the Spark engine on the same index."""
    out = str(tmp_path_factory.mktemp("idx_serve_nostem"))
    wt = synthesize_webtext(spark, 120, seed=23, vocab_size=200, mean_len=30)
    build_index(spark, wt, out, stem=False, corpus_fingerprint="serve120ns")
    idx = SearchIndex.load(spark, out)
    local = LocalEngine.load(out)
    assert local.stem is False
    for q in ["the world of men", "people years time", "the time world"]:
        s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, q, 25).collect()]
        l = local.free_query(q, 25)
        assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in l], q
        for (_, _, ss), (_, _, ls) in zip(s, l):
            assert math.isclose(ss, ls, rel_tol=1e-9)


def test_row_group_pruning_bites(engines):
    """The Spark scan's ``term`` pushdown (bm25.scored_hits) relies on
    the term-sorted postings files: every row group must carry term
    min/max statistics, and a single-term predicate must admit strictly
    fewer rows than the table holds."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    idx, _, _ = engines
    postings = ds.dataset(os.path.join(idx.path, "postings"), format="parquet")
    frags = list(postings.get_fragments())
    assert frags
    # resolve the term column INDEX by name from the file schema — a
    # hardcoded column(1) would silently check the wrong column if the
    # postings schema order ever changed
    pf0 = pq.ParquetFile(frags[0].path)
    term_idx = pf0.schema_arrow.get_field_index("term")
    assert term_idx >= 0
    total_rows = 0
    for frag in frags:
        md = pq.ParquetFile(frag.path).metadata
        total_rows += md.num_rows
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(term_idx)
            assert col.statistics is not None and col.statistics.has_min_max
    one_term = pf0.read_row_group(0, columns=["term"])["term"][0].as_py()
    filtered = postings.to_table(columns=["term"], filter=pc.field("term") == one_term)
    assert 0 < filtered.num_rows < total_rows


def _postings_parts(index_path):
    d = os.path.join(index_path, "postings")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def test_stored_dls_are_derivable(engines):
    """LocalEngine does not read ``dls``: every stored dl is the doc's
    ``tokens.doc_len``. The engine's own per-term reads agree, with tf
    taken as each posting's position count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    idx, local, _ = engines
    p = pa.concat_tables(
        pq.read_table(f, columns=["term", "block_id", "doc_ids", "dls", "positions"])
        for f in _postings_parts(idx.path)
    )
    t = pq.read_table(os.path.join(idx.path, "tokens"), columns=["doc_id", "doc_len"])
    doc_len = dict(zip(t["doc_id"].to_pylist(), t["doc_len"].to_pylist()))
    rows = p.to_pylist()
    assert rows
    for r in rows:
        assert r["dls"] == [doc_len[d] for d in r["doc_ids"]]
    by_term: dict = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["block_id"])):
        got = by_term.setdefault(r["term"], ([], [], []))
        got[0].extend(r["doc_ids"]), got[2].extend(r["dls"])
        got[1].extend(len(x) for x in r["positions"])
    assert set(by_term) == set(local.rows)
    for term, (docs, tfs, dls) in by_term.items():
        e_docs, e_tfs, e_dls, e_pos = local._read_postings(term)
        assert e_docs.tolist() == docs and e_tfs.tolist() == tfs and e_dls.tolist() == dls
        assert e_pos.size == sum(tfs)
    assert np.all(local.doc_lens[: local.num_docs] > 0)


def test_load_rejects_a_term_split_across_files(engines, tmp_path):
    """The load trusts the build's layout (each term one contiguous run
    of rows in one postings file) instead of sorting globally; a term
    whose rows sit in two files must fail loudly, naming the term."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    idx, _, _ = engines
    copy = str(tmp_path / "split")
    shutil.copytree(idx.path, copy)
    part = _postings_parts(copy)[0]
    table = pq.read_table(part)
    i = next(k for k, n in enumerate(table["df_block"].to_pylist()) if n >= 2)
    row = table.slice(i, 1).to_pylist()[0]
    h = len(row["doc_ids"]) // 2
    lists = ("doc_ids", "dls", "positions")
    head = {**row, **{c: row[c][:h] for c in lists}, "df_block": h}
    tail = {**row, **{c: row[c][h:] for c in lists}, "df_block": len(row["doc_ids"]) - h}
    pq.write_table(
        pa.concat_tables(
            [table.slice(0, i), pa.Table.from_pylist([head], schema=table.schema), table.slice(i + 1)]
        ),
        part,
    )
    pq.write_table(
        pa.Table.from_pylist([tail], schema=table.schema),
        os.path.join(copy, "postings", "part-99999-split.parquet"),
    )
    with pytest.raises(ValueError, match=f"term '{row['term']}'"):
        LocalEngine.load(copy)


def _full_kernel(local, query, k):
    """The answer of windowing EVERY hit doc: one min_windows_batch over
    all (position, distinct-token id) pairs, as the engine scored before
    it learned to skip windows. The closed form, the conjunction filter
    and the early stop must equal it in doc ids and score bits."""
    import numpy as np

    from search_rs_spark.functions.tokenizer import tokenize, tokenize_and_stem
    from search_rs_spark.operators import window_score as ws

    toks = tokenize_and_stem(query) if local.stem else tokenize(query)
    tokens = [c for c in map(local.vocab.spellcheck_term, toks) if c is not None]
    n, avgdl = float(local.num_docs), local.avgdl or 1.0
    read, idfs = {}, []
    for tok in tokens:
        if tok in local.rows:
            df = local.vocab.get(tok)[1]
            idfs.append((tok, math.log((n - df + 0.5) / (df + 0.5) + 1.0)))
            read.setdefault(tok, local._read_postings(tok))
    if not read:
        return []
    uniq = np.unique(np.concatenate([r[0] for r in read.values()]))
    scores, dl = np.zeros(uniq.size), np.ones(uniq.size, dtype=np.int64)
    for tok, idf in idfs:
        docs, tfs, dls, _ = read[tok]
        at = np.searchsorted(uniq, docs)
        tf, dlf = tfs.astype(np.float64), dls.astype(np.float64)
        scores[at] += (
            idf
            * (tf * (ws.BM25_K1 + 1.0))
            / (tf + ws.BM25_K1 * ((1.0 - ws.BM25_B) + (ws.BM25_B * dlf) / avgdl))
        )
        dl[at] = dls
    wid = {t: i for i, t in enumerate(dict.fromkeys(tokens))}
    pdoc, ppos, pqid = [], [], []
    for tok, (docs, tfs, _, flat) in read.items():
        pdoc.append(np.repeat(np.searchsorted(uniq, docs), tfs))
        ppos.append(flat.astype(np.int64))
        pqid.append(np.full(flat.size, wid[tok], dtype=np.int64))
    pdoc = np.concatenate(pdoc)
    order = np.argsort(pdoc, kind="stable")
    w = ws.min_windows_batch(
        np.concatenate(ppos)[order],
        np.concatenate(pqid)[order],
        np.bincount(pdoc, minlength=uniq.size),
        len(wid),
    )
    final = ws.WINDOW_SCORE_MULTIPLIER * (len(tokens) / w) + ws.BM25_SCORE_MULTIPLIER * (
        scores / dl
    )
    top = np.lexsort((uniq, -final))[:k]
    return [(d, local.urls[d], s) for d, s in zip(uniq[top].tolist(), final[top].tolist())]


def _hex(rows):
    return [(d, u, s.hex()) for d, u, s in rows]


@pytest.fixture
def core_calls(monkeypatch):
    """Spy on the window core the engine calls: one entry per call, the
    number of docs it windowed."""
    from search_rs_spark.operators import serving

    calls = []
    core = serving.min_windows_sorted

    def spy(pos, qid, doc_sizes, num_tokens, max_cells=None):
        calls.append(len(doc_sizes))
        return core(pos, qid, doc_sizes, num_tokens, max_cells)

    monkeypatch.setattr(serving, "min_windows_sorted", spy)
    return calls


@pytest.mark.parametrize("q", ["the", "the the", "time time time", "worlds"])
def test_one_distinct_term_closed_form_equals_kernel(engines, core_calls, q):
    """One distinct term (repeats included) scores ``3·(nt/1) + bm/dl``
    with no window kernel, bit for bit what the kernel gives."""
    _, local, _ = engines
    for k in (5, 1000):
        got = local.free_query(q, k)
        assert got and _hex(got) == _hex(_full_kernel(local, q, k)), (q, k)
    assert core_calls == []


@pytest.mark.parametrize(
    "q", ["the world of men", "the world time", "the the time", "world men world"]
)
@pytest.mark.parametrize("chunk", [None, 3])
def test_conjunction_windows_equal_full_kernel(engines, core_calls, monkeypatch, q, chunk):
    """Windowing only the docs that hold every distinct term equals
    windowing every hit doc, for a small k and for a k past the hits,
    in one chunk or in many 3-doc chunks."""
    from search_rs_spark.operators import serving

    _, local, _ = engines
    if chunk:
        monkeypatch.setattr(serving, "WINDOW_CHUNK_DOCS", chunk)
    for k in (1, 10, 1000):
        assert _hex(local.free_query(q, k)) == _hex(_full_kernel(local, q, k)), (q, k)
    assert core_calls


def test_token_without_postings_leaves_every_window_u32max(engines, core_calls):
    """A spellchecked token with no postings row is a query id no doc
    covers: every doc keeps window u32::MAX and the kernel never runs."""
    import dataclasses

    _, local, _ = engines
    gone = dataclasses.replace(
        local, rows={t: r for t, r in local.rows.items() if t != "world"}
    )
    got = gone.free_query("the world", 20)
    assert len(got) == 20 and _hex(got) == _hex(_full_kernel(gone, "the world", 20))
    assert core_calls == []


def _webtext(spark, texts, host):
    from search_rs_spark.sources.webtext import WEBTEXT_SCHEMA, _EPOCH, wrap_html

    rows = [
        (f"https://{host}/{i:06d}.txt", _EPOCH, wrap_html(t), t, "en")
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)


@pytest.fixture(scope="module")
def stop_index(spark, tmp_path_factory):
    """42 docs hold both query terms: 40 long ones with the terms 31
    positions apart, and two short ones (ids 20 and 30) with the terms
    adjacent, whose bounds and exact scores lead. 12 more docs hold one
    term."""
    pads = " ".join(f"pad{i}" for i in range(30))
    near = "alpha bravo pad0 pad1 pad2 pad3"
    texts = [f"alpha {pads} bravo"] * 42
    texts[20] = texts[30] = near
    texts += [f"alpha {pads}"] * 6 + [f"bravo {pads}"] * 6
    out = str(tmp_path_factory.mktemp("idx_serve_stop"))
    build_index(spark, _webtext(spark, texts, "s.local"), out, min_f=0, max_p=1.0)
    return SearchIndex.load(spark, out), LocalEngine.load(out)


def test_early_stop_fires_and_equals_spark(stop_index, core_calls, monkeypatch):
    """With 4-doc chunks, the first chunk scores both near docs, and the
    next bound (a far doc's) is below the k-th score: the stop fires
    after 4 of the 42 conjunction docs, and the answer is Spark's."""
    from search_rs_spark.operators import serving

    idx, local = stop_index
    monkeypatch.setattr(serving, "WINDOW_CHUNK_DOCS", 4)
    got = local.free_query("alpha bravo", 2)
    assert core_calls == [4]
    assert [d for d, _, _ in got] == [20, 30]
    assert _hex(got) == _hex(_full_kernel(local, "alpha bravo", 2))
    s = [(r["doc_id"], r["url"], r["score"]) for r in free_query(idx, "alpha bravo", 2).collect()]
    assert [(d, u) for d, u, _ in s] == [(d, u) for d, u, _ in got]
    for (_, _, ss), (_, _, ls) in zip(s, got):
        assert math.isclose(ss, ls, rel_tol=1e-9)


@pytest.fixture(scope="module")
def tie_engine(spark, tmp_path_factory):
    """tests/test_wand.py::tie_index's corpus: identical docs 0, 4 and 8
    tie on the top score; docs 5 and 9 hold one term three times."""
    x = "alpha bravo " + " ".join(f"pad{i}" for i in range(24))
    c, f = "alpha alpha alpha", "zulu yankee"
    texts = [x, f, f, f] + [x, c, f, f] * 2 + [f] * 24
    out = str(tmp_path_factory.mktemp("idx_serve_tie"))
    build_index(spark, _webtext(spark, texts, "t.local"), out, min_f=0, max_p=1.0)
    return SearchIndex.load(spark, out), LocalEngine.load(out)


@pytest.mark.parametrize("k", [1, 2])
def test_ties_at_theta_are_scored(tie_engine, core_calls, monkeypatch, k):
    """One-doc chunks put a stop check between tied docs: a bound equal
    to theta is still scored, and the lowest doc ids win the tie, as in
    Spark's answer."""
    from search_rs_spark.operators import serving

    idx, local = tie_engine
    monkeypatch.setattr(serving, "WINDOW_CHUNK_DOCS", 1)
    got = local.free_query("alpha bravo", k)
    assert [d for d, _, _ in got] == [0, 4][:k]
    assert len({s for _, _, s in got}) == 1
    assert core_calls == [1, 1, 1]
    assert _hex(got) == _hex(_full_kernel(local, "alpha bravo", k))
    s = [(r["doc_id"], r["url"]) for r in free_query(idx, "alpha bravo", k).collect()]
    assert s == [(d, u) for d, u, _ in got]
