"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the inverted index over the sf0.001
corpus (documents.parquet adapted to the webtext shape) and run the
full stemmed BM25+window free-text query.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family (SURVEY.md §2 + training-data ops): 44 queries, 41 of them
DuckDB-oracle-checked. SQL-expressible operators use the no-stem
tokenizer so DuckDB computes identical values. The engine has one
implementation of each core step, and the oracle checks that one: the
core_* rows project the tables of a real ``build_index(stem=False)``
index (doc lengths, df, the pruned and ranked vocabulary, postings
shape, positions) or run the engine's scorer and boolean path on it;
the engine_*_nostem rows run its query paths. Every ANN probe path
(LSH flat/layout, IVF flat/layout, LSH pairs) folds its deterministic
hyperplanes/centroids into the SQL as literals. Rows-only (no oracle_sql entry, pinned by
pytest against the pure-Python reference oracle instead — see
PARITY.md): the stemmed full engine (free/boolean/wand) and the
multimodal stub plumbing (mm_*).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_INDEX_CACHE: dict[str, object] = {}

# k for the engine_*_nostem hash rows — far above any driver sf's doc
# count (sf0.01 = 500, sf0.1 = 5000), so the LIMIT never cuts and the
# engine-vs-oracle comparison is over complete match sets (see the
# comment at the engine_free_query_nostem hook).
NOSTEM_K = 100_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_REFINED_CACHE: dict[str, list] = {}


def _refined_centroids_local(sf_dir: str) -> list:
    """Refined IVF centroids via the pure-Python bit-exact replica of
    the Spark refinement (operators/ivf.py kmeans_refine_local) — the
    oracle side of sim_ivf_topk_refined."""
    if sf_dir not in _REFINED_CACHE:
        import duckdb

        from search_rs_spark.operators.ivf import kmeans_refine_local

        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
        ).fetchall()
        cents, _ = kmeans_refine_local(
            [(int(v), e) for v, e in rows], n_iter=2
        )
        _REFINED_CACHE[sf_dir] = cents
    return _REFINED_CACHE[sf_dir]


def _query_vec(sf_dir: str) -> list[float]:
    import duckdb

    row = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' WHERE vec_id = 0"
    ).fetchone()
    return [float(x) for x in row[0]]


_ANN_CACHE: dict[str, str] = {}


def _ann_layout(spark: SparkSession, sf_dir: str) -> str:
    """Bucket-partitioned embeddings layout in /tmp, built once per sf."""
    from search_rs_spark.operators.similarity import ANN_META, write_bucketed_embeddings

    if sf_dir not in _ANN_CACHE:
        out = os.path.join(
            tempfile.gettempdir(),
            "srs_ann_" + sf_dir.strip("/").replace("/", "_"),
        )
        if not os.path.exists(os.path.join(out, ANN_META)):
            write_bucketed_embeddings(_emb(spark, sf_dir), out)
        _ANN_CACHE[sf_dir] = out
    return _ANN_CACHE[sf_dir]


_IVF_CACHE: dict[str, str] = {}


def _ivf_layout(spark: SparkSession, sf_dir: str) -> str:
    """Centroid-partitioned embeddings layout in /tmp, built once per sf."""
    from search_rs_spark.operators.ivf import IVF_META, write_ivf_layout

    if sf_dir not in _IVF_CACHE:
        out = os.path.join(
            tempfile.gettempdir(),
            "srs_ivf_" + sf_dir.strip("/").replace("/", "_"),
        )
        if not os.path.exists(os.path.join(out, IVF_META)):
            write_ivf_layout(_emb(spark, sf_dir), out)
        _IVF_CACHE[sf_dir] = out
    return _IVF_CACHE[sf_dir]


def _index(
    spark: SparkSession,
    sf_dir: str,
    stem: bool = True,
    min_f: int = 0,
    max_p: float = 1.0,
):
    """The sf corpus's index, built once under /tmp. Non-default df
    thresholds get their own directory, fingerprint and cache key, so
    two indexes of one corpus never evict each other on resume."""
    from search_rs_spark.plans.build import build_index
    from search_rs_spark.plans.index import SearchIndex
    from search_rs_spark.session import ensure_workers_can_import
    from search_rs_spark.sources.webtext import webtext_from_documents

    key = sf_dir if stem else f"{sf_dir}::nostem"
    prefix = "srs_index_" if stem else "srs_index_nostem_"
    fp = f"documents:{sf_dir}:stem={stem}"
    if (min_f, max_p) != (0, 1.0):
        key += f"::min_f={min_f}:max_p={max_p}"
        prefix += f"minf{min_f}_maxp{max_p}_"
        fp += f":min_f={min_f}:max_p={max_p}"
    if key not in _INDEX_CACHE:
        ensure_workers_can_import(spark)
        out = os.path.join(
            tempfile.gettempdir(), prefix + sf_dir.strip("/").replace("/", "_")
        )
        build_index(
            spark,
            webtext_from_documents(spark, sf_dir),
            out,
            min_f=min_f,
            max_p=max_p,
            stem=stem,
            corpus_fingerprint=fp,
        )
        _INDEX_CACHE[key] = SearchIndex.load(spark, out)
    return _INDEX_CACHE[key]


_TOKENS_CHECKED: set[str] = set()


def _oracle_tokens_checked(sf_dir: str) -> None:
    """The core_* oracles tokenise with DUCK_TOKENS (lowercase, then
    extract); the engine strips non-alphanumerics before lowercasing,
    as ENGINE_DUCK_TOKENS does. The two differ only on characters whose
    lowercase form is ASCII. Self-protecting: on a corpus where any
    document's two token lists differ, the core_* hooks raise instead
    of hashing engine tables against an oracle that tokenised another
    text."""
    if sf_dir in _TOKENS_CHECKED:
        return
    import duckdb

    from search_rs_spark.functions.text_analysis import DUCK_TOKENS
    from search_rs_spark.operators.sql_parity import ENGINE_DUCK_TOKENS

    bad = duckdb.sql(
        f"SELECT doc_id FROM '{sf_dir}/documents.parquet' "
        f"WHERE text IS NOT NULL AND {DUCK_TOKENS} <> {ENGINE_DUCK_TOKENS} "
        "ORDER BY doc_id"
    ).fetchall()
    if bad:
        raise RuntimeError(
            f"core_* oracle precondition violated: {len(bad)} documents of "
            f"{sf_dir} (first doc_id {bad[0][0]}) tokenise differently "
            "under DUCK_TOKENS and the engine's tokenizer"
        )
    _TOKENS_CHECKED.add(sf_dir)


def _core_index(spark: SparkSession, sf_dir: str, **thresholds):
    """The no-stem index the core_* rows project, after the tokenizer
    check."""
    _oracle_tokens_checked(sf_dir)
    return _index(spark, sf_dir, stem=False, **thresholds)


def _nostem_index_checked(spark: SparkSession, sf_dir: str, terms: "list[str]"):
    """The engine_*_nostem oracles are literal-term SQL: they assume the
    operand terms appear verbatim in the no-stem vocabulary and
    spellcheck-resolve to themselves. Self-protecting (was only a test
    guard): on a corpus where that breaks, the hook raises loudly
    instead of silently diverging from its oracle (the engine would
    trigram-correct the term while the SQL stayed literal
    containment)."""
    idx = _index(spark, sf_dir, stem=False)
    vocab = idx.driver_vocab()
    for t in terms:
        resolved = vocab.spellcheck_term(t)
        if resolved != t:
            raise RuntimeError(
                f"nostem oracle precondition violated: {t!r} resolves to "
                f"{resolved!r}, not verbatim — the literal-term oracle no "
                f"longer matches what the engine would run"
            )
    return idx


def _streamed_index(spark: SparkSession, sf_dir: str):
    """A stem=False index built through the STREAMING ingest path
    (streaming/ingest.py -> finalize_deltas -> build_index_from_term_doc)
    over the same sf corpus — stream-built == batch-built is pinned by
    tests/test_streaming.py; this handle lets the driver hash-gate the
    streamed build against the same DuckDB oracle as the batch index.
    Built once per sf under /tmp with an explicit completion marker
    holding the finalizer's build fingerprint: a partial prior run, or
    one whose marker names another fingerprint (a changed index
    layout), is wiped and rebuilt — the multi-step chain has no single
    resume fingerprint of its own."""
    key = f"{sf_dir}::streamed_nostem"
    if key not in _INDEX_CACHE:
        import shutil

        from search_rs_spark.plans.build import (
            build_index_from_term_doc,
            term_doc_fingerprint,
        )
        from search_rs_spark.plans.index import SearchIndex
        from search_rs_spark.session import ensure_workers_can_import
        from search_rs_spark.sources.webtext import webtext_from_documents
        from search_rs_spark.streaming.ingest import finalize_deltas, start_ingest

        ensure_workers_can_import(spark)
        base = os.path.join(
            tempfile.gettempdir(),
            "srs_streamidx_" + sf_dir.strip("/").replace("/", "_"),
        )
        marker = os.path.join(base, "_COMPLETE")
        out = os.path.join(base, "index")
        hint = f"streamed:{sf_dir}:stem=False"
        fp = term_doc_fingerprint(hint, min_f=0, max_p=1.0, stem=False)
        try:
            with open(marker) as f:
                complete = f.read().strip() == fp
        except OSError:
            complete = False
        if not complete:
            shutil.rmtree(base, ignore_errors=True)
            in_dir = os.path.join(base, "in")
            webtext_from_documents(spark, sf_dir).write.parquet(in_dir)
            q = start_ingest(
                spark,
                in_dir,
                os.path.join(base, "delta"),
                os.path.join(base, "ckpt"),
                stem=False,
            )
            # awaitTermination returns False on timeout with the stream
            # still running — finalizing then would read partial deltas
            # AND write the _COMPLETE marker, permanently caching a
            # truncated streamed index for every later run
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "streamed-index ingest did not drain within 600 s; "
                    "not finalizing a partial delta set"
                )
            parts = finalize_deltas(spark, os.path.join(base, "delta"))
            build_index_from_term_doc(
                spark,
                parts["doc_lengths"],
                parts["term_doc"],
                out,
                min_f=0,
                max_p=1.0,
                stem=False,
                fingerprint_hint=hint,
            )
            with open(marker, "w") as f:
                f.write(fp + "\n")
        _INDEX_CACHE[key] = SearchIndex.load(spark, out)
    return _INDEX_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full stemmed BM25 + window-score top-k over sf0.001."""
    from search_rs_spark.operators.bm25 import free_query

    idx = _index(spark, "/root/testdata/sf0.001")
    return free_query(idx, "spark data query performance", k=50)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pyspark.sql import functions as F

    from search_rs_spark.functions import text_analysis as ta
    from search_rs_spark.operators import dedup, similarity, sql_parity as sp
    from search_rs_spark.operators.bm25 import free_query
    from search_rs_spark.operators.boolean import boolean_query
    from search_rs_spark.operators.multimodal import decode_metadata, fake_assets

    raw: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    q = raw  # populated below, then wrapped

    # core engine dataflow, hash-gated: each row projects the tables of
    # a real no-stem index (tokens / vocabulary / postings) or runs the
    # engine's scorer and boolean path on it. The engine's positions are
    # 0-based, the oracle's 1-based.
    q["core_doc_lengths"] = lambda s, d: _core_index(s, d).doc_lengths.selectExpr(
        "doc_id", "CAST(doc_len AS BIGINT) AS doc_len"
    )
    q["core_term_df"] = lambda s, d: _core_index(s, d).vocabulary.selectExpr(
        "term", "CAST(df AS BIGINT) AS df"
    )
    q["core_vocabulary"] = lambda s, d: _core_index(
        s, d, min_f=sp.MIN_F, max_p=sp.MAX_P
    ).vocabulary.selectExpr("term", "term_id", "CAST(df AS BIGINT) AS df")
    q["core_postings_stats"] = lambda s, d: _core_index(s, d).postings.groupBy(
        "term"
    ).agg(
        F.sum("df_block").alias("df"),
        F.expr("sum(aggregate(positions, 0L, (a, p) -> a + size(p)))").alias("total_tf"),
        F.expr("min(array_min(doc_ids))").alias("min_doc_id"),
        F.expr("max(array_max(doc_ids))").alias("max_doc_id"),
    )
    q["core_positions"] = lambda s, d: (
        _core_index(s, d)
        .postings.filter(F.col("term").isin(sp.POSITION_TERMS))
        .selectExpr("term", "inline(arrays_zip(doc_ids, positions)) AS (doc_id, p)")
        .selectExpr(
            "doc_id",
            "term",
            "CAST(size(p) AS BIGINT) AS tf",
            "CAST(array_min(p) + 1 AS BIGINT) AS first_pos",
            "CAST(array_max(p) + 1 AS BIGINT) AS last_pos",
        )
    )

    def _core_bm25_topk(s, d):
        from search_rs_spark.operators.bm25 import scored_hits

        _oracle_tokens_checked(d)
        idx = _nostem_index_checked(s, d, sp.BM25_QUERY_TERMS)
        vocab = idx.driver_vocab()
        terms = [(i, t, vocab.get(t)[1]) for i, t in enumerate(sp.BM25_QUERY_TERMS)]
        return (
            scored_hits(idx, terms)
            .groupBy("doc_id", "dl")
            .agg(F.sum("bm").alias("bm_sum"))
            .select("doc_id", F.round(F.col("bm_sum") / F.col("dl"), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(sp.BM25_K)
        )

    def _core_boolean(s, d):
        _oracle_tokens_checked(d)
        idx = _nostem_index_checked(s, d, ["data", "query", "join"])
        return boolean_query(idx, "data AND query AND NOT join").select("doc_id")

    q["core_bm25_topk"] = _core_bm25_topk
    q["core_boolean"] = _core_boolean

    # full engine (stemmed + window + spellcheck): rows-only checks
    q["engine_free_query"] = lambda s, d: free_query(
        _index(s, d), "spark data query performance", k=50
    )
    q["engine_boolean_query"] = lambda s, d: boolean_query(
        _index(s, d), "data AND query AND NOT join"
    )

    # block-max WAND pruned top-k (rank-identical to engine_free_query;
    # pinned by tests/test_wand.py rank-identity suites)
    from search_rs_spark.operators.wand import free_query_wand

    q["engine_wand_query"] = lambda s, d: free_query_wand(
        _index(s, d), "spark data query performance", k=50
    )

    # the REAL engine path, DuckDB-hash-gated: a stem=False index makes
    # the engine's own join/aggregate/top-k plan SQL-expressible (the
    # single-term query's window component is the closed-form 3.0; the
    # boolean path has no scores).
    # NOSTEM_K far exceeds any sf's doc count, so the top-k LIMIT is
    # structurally vacuous on both sides: the engine and the oracle each
    # return ALL matching docs and near-tie boundary ordering can never
    # make the comparison flaky (the engine orders by exact score, the
    # oracle by the 6-dp-rounded score — with no cut line the row SETS
    # are what the driver hashes).
    q["engine_free_query_nostem"] = lambda s, d: free_query(
        _nostem_index_checked(s, d, ["data"]), "data", k=NOSTEM_K
    ).select("doc_id", F.round("score", 6).alias("score"))
    q["engine_boolean_query_nostem"] = lambda s, d: boolean_query(
        _nostem_index_checked(s, d, ["data", "query", "join"]),
        "data AND query AND NOT join",
    ).select("doc_id", "score")
    # the WAND two-pass block protocol itself (force_protocol=True —
    # the cost gates would route this tiny corpus to the exhaustive
    # scorer), hash-gated against the same closed-form oracle
    q["engine_wand_query_nostem"] = lambda s, d: free_query_wand(
        _nostem_index_checked(s, d, ["data"]), "data", k=NOSTEM_K,
        force_protocol=True,
    ).select("doc_id", F.round("score", 6).alias("score"))

    # the multi-term window arithmetic (min covering window over the
    # per-term position lists, mod.rs:255-286) under a DuckDB hash: a
    # 2-term query's window is SQL-expressible as the min over the
    # cross product of the two position lists, so this row executes
    # window_score via the engine's real conjunction/positions dataflow
    q["engine_free_query_nostem_2term"] = lambda s, d: free_query(
        _nostem_index_checked(s, d, ["data", "query"]), "data query", k=NOSTEM_K
    ).select("doc_id", F.round("score", 6).alias("score"))

    # the >=3-term window arithmetic (the scalar-unrolled nt<=8 HOF
    # state machine, window_score.py:126-141) under a DuckDB hash: the
    # oracle generalizes the 2-term cross product to the triple
    # cross-product min — this is the one window kernel form the 2-term
    # row's specialization never executes
    q["engine_free_query_nostem_3term"] = lambda s, d: free_query(
        _nostem_index_checked(s, d, ["data", "query", "join"]),
        "data query join",
        k=NOSTEM_K,
    ).select("doc_id", F.round("score", 6).alias("score"))

    # the STREAMING build path (streaming/ingest.py -> finalize_deltas
    # -> build_index_from_term_doc) under the driver hash for the first
    # time: same single-term closed-form oracle as
    # engine_free_query_nostem — a red cell here means the streamed
    # index diverged from the batch-equivalent corpus semantics
    q["engine_streamed_free_query_nostem"] = lambda s, d: free_query(
        _streamed_index(s, d), "data", k=NOSTEM_K
    ).select("doc_id", F.round("score", 6).alias("score"))

    # the engine's one scoring plan (one explode, one aggregate carrying
    # the position arrays next to the bm sums) returned WHOLE, before
    # the top-k: every scored doc of the 2-term query, conjunction and
    # partial, under the SAME 2-term DuckDB window oracle. The sf
    # corpora are far below BATCH_WINDOW_MIN_DOCS, so this row runs the
    # HOF window kernel; the batch UDF is pinned against it by
    # tests/test_window_score_units.py
    def _fused_2term(s, d):
        from search_rs_spark.operators.bm25 import (
            resolve_query_terms,
            score_candidates,
        )

        idx = _index(s, d, stem=False)
        terms = resolve_query_terms(idx, "data query")
        return score_candidates(idx, terms).select(
            "doc_id", F.round("score", 6).alias("score")
        )

    q["engine_free_query_nostem_2term_fused"] = _fused_2term

    # text analysis
    q["ta_token_counts"] = lambda s, d: ta.token_counts(_docs(s, d))
    q["ta_lang_id"] = lambda s, d: ta.lang_id(_docs(s, d))
    q["ta_quality"] = lambda s, d: ta.quality_scores(_docs(s, d))
    q["ta_fingerprints"] = lambda s, d: ta.fingerprints(_docs(s, d))
    q["ta_bpe_tokens"] = lambda s, d: ta.bpe_token_counts(_docs(s, d))
    q["ta_winnow"] = lambda s, d: ta.winnow_fingerprints(_docs(s, d))

    # deduplication
    q["dd_exact"] = lambda s, d: dedup.exact_dedup(_docs(s, d))
    q["dd_minhash_sig"] = lambda s, d: dedup.minhash_signatures(_docs(s, d))
    q["dd_lsh_pairs"] = lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d))
    q["dd_simhash"] = lambda s, d: dedup.simhash_signatures(_docs(s, d))
    q["dd_dup_clusters"] = lambda s, d: dedup.duplicate_clusters(_docs(s, d))

    # composed keep/drop pipeline decision
    from search_rs_spark.operators.corpus_filter import corpus_filter

    q["cf_corpus_filter"] = lambda s, d: corpus_filter(_docs(s, d))
    q["dd_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d))

    # similarity search
    q["sim_cosine_topk"] = lambda s, d: similarity.cosine_topk_bruteforce(
        _emb(s, d), _query_vec(d), k=10, exclude_vec_id=0
    )
    # threshold 0.35: the driver corpus's max pairwise cos is ~0.44, so
    # the row is non-vacuous (the round-3 default 0.95 matched nothing
    # and 0 == 0 proved nothing) — same fix sim_lsh_pairs got in round 3
    q["sim_cosine_pairs"] = lambda s, d: similarity.cosine_pairs(
        _emb(s, d), threshold=0.35
    )
    q["sim_lsh_topk"] = lambda s, d: similarity.lsh_bucketed_topk(
        _emb(s, d), _query_vec(d), k=10, exclude_vec_id=0
    )
    q["sim_lsh_topk_layout"] = lambda s, d: similarity.lsh_bucketed_topk_layout(
        s, _ann_layout(s, d), _query_vec(d), k=10, exclude_vec_id=0
    )
    # margin-RANKED multiprobe (Lv et al. 2007): 6 planes / 8 probed
    # buckets of 64 — the recall/latency knob at scale; the probe set is
    # deterministic, so the oracle folds the same buckets as literals
    q["sim_lsh_topk_multiprobe"] = lambda s, d: similarity.lsh_bucketed_topk(
        _emb(s, d), _query_vec(d), k=10, n_planes=6, exclude_vec_id=0, n_probes=8
    )
    # the same ranked-probe knob over the bucket-PARTITIONED layout —
    # the path a user actually runs at scale (probe set = partition
    # filter; pruning plan-pinned in tests/test_ann_layout.py); layout
    # geometry is the default 4 planes / 16 buckets, 8 ranked probes
    q["sim_lsh_topk_multiprobe_layout"] = lambda s, d: (
        similarity.lsh_bucketed_topk_layout(
            s, _ann_layout(s, d), _query_vec(d), k=10, exclude_vec_id=0, n_probes=8
        )
    )

    # multi-table LSH embedding near-dup pairs (threshold lowered to 0.3
    # so the driver corpus — max pairwise cos ~0.44 — yields rows and the
    # oracle row is non-vacuous)
    q["sim_lsh_pairs"] = lambda s, d: similarity.cosine_lsh_pairs(
        _emb(s, d), threshold=0.3
    )

    # IVF: the second ANN scale path (centroid-partitioned inverted lists)
    from search_rs_spark.operators import ivf

    q["sim_ivf_assign"] = lambda s, d: ivf.ivf_assign(_emb(s, d))
    q["sim_ivf_topk"] = lambda s, d: ivf.ivf_topk(
        _emb(s, d), _query_vec(d), k=10, exclude_vec_id=0
    )
    q["sim_ivf_topk_layout"] = lambda s, d: ivf.ivf_topk_layout(
        s, _ivf_layout(s, d), _query_vec(d), k=10, exclude_vec_id=0
    )
    # distributed k-means refinement under a DuckDB hash: the Spark
    # refinement is exact/order-independent (decimal sums), a pure-
    # Python replica recomputes bit-identical centroids for the oracle
    # (kmeans_refine_local), and both fold them into the probe as
    # literals — a red cell here means the DISTRIBUTED refinement
    # diverged, not just the probe
    q["sim_ivf_topk_refined"] = lambda s, d: ivf.ivf_topk_with_centroids(
        _emb(s, d),
        ivf.kmeans_refine(_emb(s, d), n_iter=2)[0],
        _query_vec(d),
        k=10,
        exclude_vec_id=0,
    )

    # multimodal plumbing (stub kernels; hash-gated via driver-side
    # literal-table oracles — everything fake_assets emits is a
    # deterministic function of (seed, asset_id), so the expected
    # outputs fold into DuckDB VALUES literals, same mechanism as the
    # ANN hyperplane/centroid literals). mm_features goes through
    # features_signature: the harness's pandas canonicalizer cannot
    # sort/hash a list-valued column, so the array<float> embedding is
    # emitted as a '|'-joined string (the operator itself stays
    # array-typed; same pattern as dd_minhash_sig).
    from search_rs_spark.operators.multimodal import (
        extract_features,
        features_signature,
        resize_assets,
    )

    q["mm_decode_metadata"] = lambda s, d: decode_metadata(fake_assets(s, 500))
    q["mm_resize_metadata"] = lambda s, d: decode_metadata(
        resize_assets(fake_assets(s, 500), max_side=32)
    )
    q["mm_features"] = lambda s, d: features_signature(
        extract_features(fake_assets(s, 500))
    )

    def _wrap(fn):
        def run(s: SparkSession, d: str) -> DataFrame:
            # several queries use package-defined UDFs/mapInPandas; make
            # sure the driver's session can import the package on workers
            from search_rs_spark.session import ensure_workers_can_import

            ensure_workers_can_import(s)
            return fn(s, d)

        return run

    return {name: _wrap(fn) for name, fn in raw.items()}


def oracle_sql() -> dict[str, str]:
    from search_rs_spark.functions import text_analysis as ta
    from search_rs_spark.operators import (
        dedup,
        ivf,
        multimodal as mm,
        similarity,
        sql_parity as sp,
    )

    qv = _query_vec("/root/testdata/sf0.01")
    return {
        "engine_free_query_nostem": sp.engine_free_query_nostem_sql(
            "data", k=NOSTEM_K
        ),
        "engine_boolean_query_nostem": sp.ENGINE_BOOLEAN_NOSTEM_SQL,
        "engine_wand_query_nostem": sp.engine_free_query_nostem_sql(
            "data", k=NOSTEM_K
        ),
        "engine_free_query_nostem_2term": sp.engine_free_query_nostem_2term_sql(
            "data", "query", k=NOSTEM_K
        ),
        "engine_free_query_nostem_2term_fused": (
            sp.engine_free_query_nostem_2term_sql("data", "query", k=NOSTEM_K)
        ),
        "engine_free_query_nostem_3term": sp.engine_free_query_nostem_3term_sql(
            "data", "query", "join", k=NOSTEM_K
        ),
        # the streamed build must reproduce the batch index exactly, so
        # it shares the batch row's closed-form single-term oracle
        "engine_streamed_free_query_nostem": sp.engine_free_query_nostem_sql(
            "data", k=NOSTEM_K
        ),
        "core_doc_lengths": sp.DOC_LENGTHS_SQL,
        "core_term_df": sp.TERM_DF_SQL,
        "core_vocabulary": sp.VOCABULARY_SQL,
        "core_postings_stats": sp.POSTINGS_STATS_SQL,
        "core_bm25_topk": sp.bm25_topk_sql(),
        "core_boolean": sp.BOOLEAN_SQL,
        "core_positions": sp.positional_postings_sql(),
        "ta_token_counts": ta.TOKEN_COUNTS_SQL,
        "ta_lang_id": ta.lang_id_sql(),
        "ta_quality": ta.QUALITY_SQL,
        "ta_fingerprints": ta.FINGERPRINTS_SQL,
        "ta_bpe_tokens": ta.BPE_TOKEN_COUNTS_SQL,
        "ta_winnow": ta.winnow_fingerprints_sql(),
        "dd_exact": dedup.EXACT_DEDUP_SQL,
        "dd_minhash_sig": dedup.minhash_signatures_sql(),
        "dd_lsh_pairs": dedup.minhash_lsh_pairs_sql(),
        "dd_simhash": dedup.simhash_signatures_sql(),
        "dd_dup_clusters": dedup.duplicate_clusters_sql(),
        "cf_corpus_filter": __import__(
            "search_rs_spark.operators.corpus_filter", fromlist=["corpus_filter_sql"]
        ).corpus_filter_sql(),
        "dd_ngram_jaccard": dedup.ngram_jaccard_pairs_sql(),
        "sim_cosine_topk": similarity.cosine_topk_sql(qv, k=10, exclude_vec_id=0),
        "sim_cosine_pairs": similarity.cosine_pairs_sql(threshold=0.35),
        # the deterministic md5 hyperplanes fold into SQL as literals;
        # the layout variant returns identical rows by construction
        # (same planes, same probe set), so it shares the oracle
        "sim_lsh_topk": similarity.lsh_topk_sql(qv, k=10, exclude_vec_id=0),
        "sim_lsh_topk_layout": similarity.lsh_topk_sql(qv, k=10, exclude_vec_id=0),
        "sim_lsh_topk_multiprobe": similarity.lsh_topk_sql(
            qv, k=10, n_planes=6, exclude_vec_id=0, n_probes=8
        ),
        # layout variant: same planes (the layout's meta defaults match
        # lsh_topk_sql's) and same ranked probe set -> same oracle rows
        "sim_lsh_topk_multiprobe_layout": similarity.lsh_topk_sql(
            qv, k=10, exclude_vec_id=0, n_probes=8
        ),
        "sim_lsh_pairs": similarity.cosine_lsh_pairs_sql(
            threshold=0.3, dim=len(qv)
        ),
        "sim_ivf_assign": ivf.ivf_assign_sql(),
        "sim_ivf_topk": ivf.ivf_topk_sql(qv, k=10, exclude_vec_id=0),
        "sim_ivf_topk_layout": ivf.ivf_topk_sql(qv, k=10, exclude_vec_id=0),
        "sim_ivf_topk_refined": ivf.ivf_topk_refined_sql(
            qv,
            _refined_centroids_local("/root/testdata/sf0.01"),
            k=10,
            exclude_vec_id=0,
        ),
        "mm_decode_metadata": mm.decode_metadata_oracle_sql(500),
        "mm_resize_metadata": mm.resize_metadata_oracle_sql(500, max_side=32),
        "mm_features": mm.features_signature_oracle_sql(500),
    }
