"""Free-text BM25 top-k query (Q1, Q9-Q14).

Spark re-expression of ``Engine::free_query``
(/root/reference/search/src/engine/mod.rs:138-207):

1. tokenize+stem the query with the build-identical preprocessor, then
   spellcheck each token (dropping unmatched ones) — driver side.
2. bind the query terms inside the plan: a pushed ``term IN (...)``
   scan filter on the blocked postings table (parquet row-group and
   page skipping) and a literal term -> [(qid, idf)] map looked up
   per postings row (:func:`bind_terms`) — no join, no broadcast.
3. explode postings; per-posting BM25 contribution
   ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` (mod.rs:162-169)
   with the idf computed driver-side from the vocabulary df.
4. ONE per-doc aggregate: sum of contributions, then the reference's
   non-standard renormalization ``/ doc_len`` (mod.rs:186), plus the
   minimal-window score over the collected per-token positions
   (mod.rs:255-286), combined 3*window + bm25 (mod.rs:284-285).
5. distributed top-k: ``ORDER BY score DESC, doc_id LIMIT k``
   (TakeOrderedAndProject — the heap of heap.rs:32-63; ties broken by
   doc_id, which the reference leaves unspecified), collected: the
   query's one Spark job.
6. urls for the k winners only (``get_doc_path``, documents.rs:74-76):
   a pyarrow read of the tokens row groups that hold the k ids, with
   no job, returned as a local relation.

One scoring plan at every corpus size, like the reference's single pass,
built as ONE ``spark.sql`` statement over the handle's stage relations
(~40 py4j round trips; the DataFrame-API form took ~800 per query);
pruning at scale is block-max WAND's job (operators/wand.py). No RDDs,
no driver-side scoring: the only collect is the k winner rows.
``doc_len`` rides inside the postings blocks, so scoring requires no
join against doc_lengths. The postings are written with small pages
(plans/build.py), so the ``term IN (...)`` scan decodes only the pages
that hold the query's terms.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize, tokenize_and_stem
from ..plans.build import postings_shuffle_partitions
from .window_score import (
    BM25_B,
    BM25_K1,
    BM25_SCORE_MULTIPLIER,
    U32_MAX,
    WINDOW_SCORE_MULTIPLIER,
    window_score_batch_udf,
    window_score_sql,
)

NUM_RESULTS = 100  # search/src/main.rs:10

# window kernel choice: the Arrow-batched numpy UDF (one lexsort + one
# segmented accumulate per batch) beats the JVM-side HOF only on large
# conjunctions — measured on all-head queries (4 cores, local[4]): up
# to 42% faster at 1M docs, within run-to-run spread at 60k-100k,
# slower at 3k. The Bonferroni bound sum(df) - (m-1)*N over the m
# distinct terms is a free, driver-side floor on the conjunction size;
# below this many docs the HOF keeps the query path free of Python
# workers.
BATCH_WINDOW_MIN_DOCS = 50_000


def resolve_query_terms(index, query: str) -> list[tuple[int, str, int]]:
    """-> [(qid, term, df)]: tokenize, spellcheck, drop unmatched (mod.rs:141-146).

    Uses the in-memory vocabulary when it fits on the driver (the
    reference's approach, vocabulary.rs:44-97); falls back to the
    distributed trigram-join spellcheck for vocabularies beyond the
    driver threshold.

    Query preprocessing must equal build preprocessing (Q1 ≡ B3,
    mod.rs:141-146): an index built with ``stem=False`` gets the
    tokenize-only query path, else terms would never match the
    unstemmed vocabulary."""
    stemmed = bool(index.stats.get("stem", True))
    toks = tokenize_and_stem(query) if stemmed else tokenize(query)
    out = []
    try:
        vocab = index.driver_vocab()
    except RuntimeError:
        from .spellcheck import spellcheck_distributed

        corrected_map = spellcheck_distributed(index.vocabulary, toks)
        corrected_terms = [corrected_map[t] for t in toks if corrected_map.get(t)]
        if not corrected_terms:
            return []
        dfs = {
            r["term"]: r["df"]
            for r in index.vocabulary.filter(
                F.col("term").isin(sorted(set(corrected_terms)))
            ).collect()
        }
        return [(i, t, dfs[t]) for i, t in enumerate(corrected_terms)]
    for tok in toks:
        corrected = vocab.spellcheck_term(tok)
        if corrected is not None:
            _, df = vocab.get(corrected)
            out.append((len(out), corrected, df))
    return out


def sql_str(s: str) -> str:
    """A SQL string literal for ``spark.sql`` text that also goes
    through its ``{name}`` formatter: backslash and quote escaped,
    braces doubled. Only vocabulary terms are spliced this way — never
    raw user text."""
    lit = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return lit.replace("{", "{{").replace("}", "}}")


def sql_double(x: float) -> str:
    """A DOUBLE literal with the exact bits of ``x``: ``repr`` is the
    shortest round-trip decimal, which the parser reads back correctly
    rounded."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"cannot splice {x!r} as a SQL literal")
    return f"{x!r}D"


def bind_terms(structs: dict[str, list[str]], fields: str, where: str = "") -> str:
    """FROM-clause text binding query terms inside the plan: the
    postings rows of the terms in ``structs`` (and matching the extra
    predicate ``where``), each repeated once per struct its term maps
    to, with the struct's fields as the columns named in ``fields``.

    The terms go in twice, as literals: a ``term IN (...)`` scan filter
    (PushedFilters; the postings files are term-sorted, so parquet
    row-group stats skip other terms) and a literal
    ``map(term -> array(struct))`` that ``inline`` looks each row's
    term up in. No query-terms relation is built, joined or broadcast,
    so binding costs no py4j round trip and no Spark job of its own."""
    keys = sorted(structs)
    in_list = ", ".join(sql_str(t) for t in keys)
    entries = ", ".join(
        f"{sql_str(t)}, array({', '.join(structs[t])})" for t in keys
    )
    return (
        f"(SELECT * FROM {{postings}} WHERE term IN ({in_list}){where}) "
        f"LATERAL VIEW inline(element_at(map({entries}), term)) q AS {fields}"
    )


def _hits_sql(index, terms, blocks, hint: str = "") -> str:
    """-> the SELECT text of :func:`scored_hits` (over ``{postings}``)."""
    structs: dict[str, list[str]] = {}
    for qid, t, df in terms:
        structs.setdefault(t, []).append(
            f"struct({int(qid)}, {sql_double(index.idf(df))})"
        )
    if blocks is None:
        where = ""
    elif blocks:
        where = f" AND block_id IN ({', '.join(str(int(b)) for b in blocks)})"
    else:
        where = " AND FALSE"
    avgdl = sql_double(index.avgdl or 1.0)
    k1, b = sql_double(BM25_K1), sql_double(BM25_B)
    bm = (
        f"idf * (tf * {sql_double(BM25_K1 + 1.0)}) / "
        f"(tf + {k1} * ({sql_double(1.0 - BM25_B)} + {b} * dl / {avgdl}))"
    )
    return (
        f"SELECT {hint}qid, idf, doc_id, tf, dl, positions, {bm} AS bm FROM ("
        "SELECT qid, idf, doc_id, CAST(size(pos) AS DOUBLE) AS tf, "
        "CAST(dl_i AS DOUBLE) AS dl, pos AS positions "
        f"FROM {bind_terms(structs, 'qid, idf', where)} "
        "LATERAL VIEW inline(arrays_zip(doc_ids, dls, positions)) p "
        "AS doc_id, dl_i, pos)"
    )


def scored_hits(
    index,
    terms: list[tuple[int, str, int]],
    blocks: "list[int] | None" = None,
) -> DataFrame:
    """Per-(doc, qid) exploded hits with bm25 contribution columns.

    ``blocks`` restricts to the given posting blocks BEFORE the arrays
    are exploded (block-max WAND's pruned exact passes): the ids become
    a literal ``block_id IN (...)`` folded into the scan predicate. The
    postings files are sorted by (term, block_id) within partitions, so
    parquet row-group and page stats plus the pushed In filter skip the
    pruned blocks — their positions arrays are never read or
    decompressed. Callers bound the list (wand.py caps it at
    MAX_LITERAL_BLOCKS): an unbounded literal predicate blows up plan
    compile time.
    """
    return index.spark.sql(_hits_sql(index, terms, blocks), postings=index.postings)


def _candidates_sql(index, terms, blocks) -> str:
    """-> the SELECT text of :func:`score_candidates` (over ``{postings}``)."""
    num_tokens = len(terms)
    dfs = {t: df for _, t, df in terms}
    # the multi-term aggregate buffers its partition's (qid, positions)
    # fragments in collect_list state — the same memory shape as the
    # build's postings stage, so it sizes its shuffle the same way
    # (POSTINGS_FRAGMENTS_PER_PARTITION): sum(df) over the query tokens
    # counts the exploded rows exactly and is known driver-side for
    # free. At or below the session conf the plan is untouched. The
    # repartition on a subset of the grouping keys satisfies the
    # aggregate's distribution, so no second exchange appears
    # (plan-pinned in test_engine_e2e).
    spark = index.spark
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = postings_shuffle_partitions(sum(df for _, _, df in terms), conf_parts)
    hint = f"/*+ REPARTITION({parts}, doc_id, dl) */ " if parts > conf_parts else ""
    hits = _hits_sql(index, terms, blocks, hint)
    bm_norm = f"bm_sum * {sql_double(BM25_SCORE_MULTIPLIER)} / dl"
    if len(dfs) == 1:
        agg = f"SELECT doc_id, dl, sum(bm) AS bm_sum FROM ({hits}) GROUP BY doc_id, dl"
        score = f"{sql_double(WINDOW_SCORE_MULTIPLIER * num_tokens)} + {bm_norm}"
        return f"SELECT doc_id, {score} AS score FROM ({agg})"
    # two collect_lists in one aggregate see rows in the same order, so
    # qids[i] owns ps[i]; the position arrays ride the shuffle unexploded
    agg = (
        "SELECT doc_id, dl, sum(bm) AS bm_sum, collect_list(qid) AS qids, "
        f"collect_list(positions) AS ps FROM ({hits}) GROUP BY doc_id, dl"
    )
    conj_lb = sum(dfs.values()) - (len(dfs) - 1) * index.num_docs
    if conj_lb >= BATCH_WINDOW_MIN_DOCS:
        # built per call: the UDF pickles the kernel's matrix cap when
        # it is created, so a driver-side override reaches the workers
        name = f"window_score_batch_{num_tokens}"
        spark.udf.register(name, window_score_batch_udf(num_tokens))
        window = f"{name}(qids, ps)"
    else:
        window = window_score_sql("qids", "ps", num_tokens)
    eps = sql_double(WINDOW_SCORE_MULTIPLIER * num_tokens / U32_MAX)
    # one row per (qid, doc) upstream, so qids holds distinct ids
    score = (
        f"CASE WHEN size(qids) = {num_tokens} THEN {window} ELSE {eps} END"
        f" + {bm_norm}"
    )
    return f"SELECT doc_id, {score} AS score FROM ({agg})"


def score_candidates(
    index,
    terms: list[tuple[int, str, int]],
    blocks: "list[int] | None" = None,
) -> DataFrame:
    """-> (doc_id, score): exact combined scores of every doc holding a
    query term (restricted to ``blocks``, see :func:`scored_hits`).

    One explode, one aggregate per doc. A single distinct term
    (duplicated tokens included) gives every hit doc all query token
    ids on one shared position list, so its covering window is 1 and
    the score is the closed form ``3*nt + bm_sum/dl`` — no positions
    shuffled. Otherwise the aggregate carries aligned (qid, positions)
    lists next to the bm sum: a doc missing a query token id has
    window = u32::MAX (mod.rs:256), so it scores ``3*nt/U32_MAX +
    bm_sum/dl``; a conjunction doc runs the window kernel
    (``3*nt/window + bm_sum/dl``, the HOF or, past
    BATCH_WINDOW_MIN_DOCS, the batch UDF — bit-identical).
    """
    return index.spark.sql(
        _candidates_sql(index, terms, blocks), postings=index.postings
    )


def top_k(
    index,
    terms: list[tuple[int, str, int]],
    k: int,
    blocks: "list[int] | None" = None,
) -> DataFrame:
    """-> lazy (doc_id, score): the k winners of :func:`score_candidates`
    (restricted to ``blocks``, see :func:`scored_hits`), score-desc /
    doc_id-asc, as one statement whose top-k is a distributed bounded
    heap (TakeOrderedAndProject)."""
    scored = _candidates_sql(index, terms, blocks)
    return index.spark.sql(
        f"SELECT doc_id, score FROM ({scored}) ORDER BY score DESC, doc_id LIMIT {int(k)}",
        postings=index.postings,
    )


def empty_result(index) -> DataFrame:
    """The (doc_id, url, score) answer of a query with no terms: an
    empty local relation."""
    return materialize_topk(index, [])


def materialize_topk(index, rows) -> DataFrame:
    """k winner rows (driver-side, answer order) -> a local (doc_id,
    url, score) DataFrame in the same order.

    The urls are read for the k ids only (:meth:`SearchIndex.urls`, no
    Spark job on a parquet index; a missing url raises), and the rows
    become an Arrow local relation, so collecting the result runs no
    job either."""
    ids = [int(r["doc_id"]) for r in rows]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "url": pa.array(index.urls(ids) if ids else [], pa.string()),
            "score": pa.array([float(r["score"]) for r in rows], pa.float64()),
        }
    )
    return index.spark.createDataFrame(table)


def free_query(index, query: str, k: int = NUM_RESULTS) -> DataFrame:
    """-> DataFrame (doc_id, url, score), score-desc / doc_id-asc, k rows.

    One Spark job: :func:`top_k` (one ``spark.sql`` statement) is
    collected here, and :func:`materialize_topk` attaches the k
    winners' urls. The answer is only k rows, so it is materialized
    before returning: the returned local relation's ``collect`` runs
    no job."""
    terms = resolve_query_terms(index, query)
    if not terms:
        return empty_result(index)
    return materialize_topk(index, top_k(index, terms, k).collect())
