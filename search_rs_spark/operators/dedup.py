"""Deduplication operators for training-data pipelines.

All hash material derives from portable string hashes (``md5`` /
``sha256`` hex) so the Spark implementation and the DuckDB oracle
compute identical values (native hash functions differ between
engines). MinHash uses ONE ``sha256`` per shingle sliced into
``MINHASH_H`` disjoint hex lanes — lexicographic MIN over a
fixed-width hex lane is a valid uniform min-hash, and the lanes of one
digest are modeled-independent, so this costs 1 strong hash per
shingle instead of the naive H (the round-5 kernel paid 8 independent
md5 evaluations per shingle). The larger round-6 find, though, was the
shingle construction itself: the positional higher-order-function form
re-evaluated the inlined tokenizer regex per shingle position —
O(len^2) regex work per doc, ~12x the cost of everything else combined
at 50k docs — replaced by a zip_with-over-shifted-arrays form whose
operands evaluate once per row (see :func:`_spark_shingles`).

Scale notes: exact dedup is a single hash-keyed aggregation;
MinHash-LSH is shingle-explode -> per-(doc,hash) min -> band explode ->
band-bucket self-join (candidates only) -> exact-Jaccard verify, i.e.
candidate generation never goes quadratic; SimHash is a fixed-width
signature per doc (bit-majority over token hashes).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import DUCK_TOKENS, SPARK_TOKENS, widen_scan

log = logging.getLogger("search_rs_spark.dedup")

SHINGLE_K = 3
MINHASH_H = 8  # hash functions
MINHASH_BANDS = 4  # -> rows per band r = H / BANDS = 2
JACCARD_THRESHOLD = 0.5
# degenerate-bucket guard: a (band, band_sig) bucket with more members
# than this goes quadratic in the candidate self-join (boilerplate /
# empty-ish docs sharing one signature on a real web corpus); such
# buckets are dropped with a warning. EXACT duplicates are the job of
# exact_dedup (one hash aggregation), not LSH.
MAX_BAND_BUCKET = 10_000


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, text_hash, group_n, keep_doc_id, is_duplicate).

    Window aggregates over ``partition by text_hash`` instead of the
    groupBy + self-join form: identical rows, but ONE exchange of the
    slim (doc_id, text_hash) table and a single scan of the corpus,
    where the join form shuffled both the row table and the aggregated
    groups and re-sorted them for the merge (guide §2.4 — two
    operations keyed the same way share one exchange). The window's
    per-partition state is one (count, min) pair per distinct hash —
    bounded exactly like the aggregate's was."""
    h = docs.select("doc_id", F.md5("text").alias("text_hash"))
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash")
    return h.select(
        "doc_id",
        "text_hash",
        F.count(F.lit(1)).over(w).alias("group_n"),
        F.min("doc_id").over(w).alias("keep_doc_id"),
    ).withColumn("is_duplicate", F.col("doc_id") != F.col("keep_doc_id"))


EXACT_DEDUP_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, count(*) AS group_n, min(doc_id) AS keep_doc_id
      FROM h GROUP BY text_hash)
SELECT h.doc_id, h.text_hash, g.group_n, g.keep_doc_id,
       h.doc_id <> g.keep_doc_id AS is_duplicate
FROM h JOIN g USING (text_hash)
"""


# ---------------------------------------------------------------------------
# shingles + MinHash signatures
# ---------------------------------------------------------------------------


def _spark_shingles(k: int = SHINGLE_K, tokens: str = "toks") -> str:
    """distinct k-token shingles as strings (SQL expression).

    Built as ``zip_with`` over k-1 shifted copies of the token array —
    NOT as ``transform(sequence(...), i -> slice(tokens, i, k))``. The
    distinction is the whole game at scale: higher-order functions are
    interpreted, and any expression inside the lambda body is
    re-evaluated per element, so with the tokenizer's
    ``regexp_extract_all`` inlined there (which Catalyst's
    CollapseProject happily does even when the tokens were aliased in
    their own projection) the positional form costs O(len^2) regex work
    per document — measured 36 s for a 50k-doc corpus where this form
    costs ~1 s. ``zip_with``'s array operands are evaluated once per
    row; its lambda touches only the lambda variables.

    zip_with pads the shorter operand with null and ``concat`` of a
    null is null, so after k-1 zips the trailing k-1 entries are null;
    the final slice keeps exactly the size-k windows."""
    t = tokens
    cur = t
    for j in range(2, k + 1):
        cur = f"zip_with({cur}, slice({t}, {j}, size({t})), (a, b) -> concat(a, ' ', b))"
    windows = f"slice({cur}, 1, size({t}) - {k} + 1)"
    return f"array_distinct(CASE WHEN size({t}) >= {k} THEN {windows} ELSE {t} END)"


def _duck_shingles(k: int = SHINGLE_K, tokens: str = "toks") -> str:
    """Oracle twin of :func:`_spark_shingles` — same contract: ``tokens``
    is a materialized list column, not the tokenizer expression."""
    t = tokens
    return (
        f"list_distinct(CASE WHEN len({t}) >= {k} THEN "
        f"list_transform(generate_series(1, len({t}) - {k} + 1), "
        f"i -> array_to_string({t}[i:i+{k - 1}], ' ')) "
        f"ELSE {t} END)"
    )


# oracle CTE producing (doc_id, toks) — the materialization step the
# Spark side does in _shingled's first projection
_DUCK_TOKS_CTE = f"SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents"


def _shingled(docs: DataFrame, toks_col: str | None = None) -> DataFrame:
    # tokens in their own projection: referenced >1 time by the shingle
    # fragment, so CollapseProject keeps the regexp out of the lambda.
    # ``toks_col`` names a pre-tokenized column (same SPARK_TOKENS
    # expression materialized upstream) so composed pipelines tokenize
    # the corpus once — see operators/corpus_filter.py.
    toks = widen_scan(docs).select(
        "doc_id",
        (F.col(toks_col) if toks_col else F.expr(SPARK_TOKENS)).alias("toks"),
    )
    return (
        toks.select("doc_id", F.expr(_spark_shingles()).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


def _lane_width(h: int) -> int:
    """Hex chars per minhash lane. One sha256 digest is 64 hex chars; h
    lanes must tile it exactly and carry enough entropy (>= 16 bits per
    lane) that lane-min collisions across distinct shingle sets are
    negligible at web-corpus shingle counts."""
    if 64 % h != 0 or 64 // h < 4:
        raise ValueError(f"minhash h={h} must divide 64 with lanes >= 4 hex chars")
    return 64 // h


def _lane_fn(start: int, width: int):
    # NB: must be a 1-arg lambda — pyspark's transform() treats a second
    # lambda parameter as the array index
    return lambda d: F.substring(d, start + 1, width)


def _with_sig(sh: DataFrame, h: int = MINHASH_H) -> DataFrame:
    lane = _lane_width(h)
    # ONE strong hash per shingle; the h components are disjoint hex
    # lanes of that digest. The two-step select keeps the sha256
    # transform in its own projection so Catalyst computes it once (it
    # is referenced h times below; CollapseProject does not inline
    # non-cheap expressions used more than once).
    digs = sh.select(
        "doc_id",
        "shingles",
        F.transform("shingles", lambda s: F.sha2(s, 256)).alias("digs"),
    )
    sig_cols = [
        F.array_min(F.transform(F.col("digs"), _lane_fn(j * lane, lane))).alias(f"mh{j}")
        for j in range(h)
    ]
    return digs.select("doc_id", "shingles", F.array(*sig_cols).alias("sig"))


def minhash_signatures(docs: DataFrame, h: int = MINHASH_H) -> DataFrame:
    """(doc_id, sig): sig = '|'-joined minhashes, where component j is the
    min over shingles of hex lane j of sha256(shingle) (64/h chars per
    lane — one digest evaluation per shingle, not h).

    The signature is emitted as a single string (not ARRAY<STRING>) so
    downstream tabular tooling — including the driver's pandas-based
    canonicalizer, which cannot sort list-valued columns — can hash it.
    """
    sig = _with_sig(_shingled(docs), h)
    return sig.select("doc_id", F.concat_ws("|", "sig").alias("sig"))


def _duck_lane_mins(h: int) -> str:
    lane = _lane_width(h)
    return ", ".join(
        f"list_min(list_transform(digs, g -> substr(g, {j * lane + 1}, {lane})))"
        for j in range(h)
    )


def minhash_signatures_sql(h: int = MINHASH_H) -> str:
    return f"""
WITH tk AS ({_DUCK_TOKS_CTE}),
sh AS (SELECT doc_id, {_duck_shingles()} AS shingles FROM tk),
d AS (SELECT doc_id, list_transform(shingles, s -> sha256(s)) AS digs
      FROM sh WHERE len(shingles) > 0)
SELECT doc_id, array_to_string([{_duck_lane_mins(h)}], '|') AS sig
FROM d
"""


def minhash_lsh_pairs(
    docs: DataFrame,
    h: int = MINHASH_H,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int | None = MAX_BAND_BUCKET,
    persist_tracker: list | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): near-dup pairs via banded LSH candidates
    verified with exact Jaccard over distinct shingles.

    ``toks_col``: optional pre-tokenized column (see :func:`_shingled`).

    ``max_bucket`` drops degenerate (band, band_sig) buckets larger
    than the cap before the self-join (logged), bounding the candidate
    set; ``None`` disables the guard.

    ``persist_tracker``: the plan persists three intermediates (the
    shingle table — corpus-sized — the slim bucket-members table, and
    the candidate pair set). Pass a list to receive those handles and
    ``unpersist`` them once the result is materialized; without it they
    stay cached until the ContextCleaner notices the plans are
    unreachable, which at 10M+ docs is tens of GB of storage held
    across downstream stages (the same contract as
    plans/ranks.with_global_rank)."""
    r = h // bands
    # consumed three times (signatures + both sides of the verify join)
    sh = _shingled(docs, toks_col=toks_col).persist()
    if persist_tracker is not None:
        persist_tracker.append(sh)
    sigs = _with_sig(sh, h)
    # slim band table, consumed exactly once by the bucket aggregation
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col("sig")[b * r + i] for i in range(r)]
                            )
                        ).alias("band_sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_sig")

    # WITHIN-bucket pair generation instead of a banded self-join: one
    # groupBy collects each (band, band_sig) bucket's member list (state
    # bounded by the bucket cap), then ordered pairs explode from the
    # sorted list in place. The self-join form shuffled the corpus-sized
    # band table TWICE (both join sides) and merge-joined them; this
    # form shuffles it once into an aggregation and generates the same
    # pair set with no join at all (the round-6 10M run's wall was
    # exactly that self-join). Two-level explode (member row carries
    # the list, pairs stream off a slice) keeps peak per-row memory
    # O(bucket), not O(bucket^2). Buckets of one member produce no
    # pairs and are dropped before the cap probe — the probe's
    # oversized detection is unaffected (the cap is >= 1).
    members = (
        banded.groupBy("band", "band_sig")
        .agg(F.collect_list("doc_id").alias("members"))
        .filter(F.size("members") > 1)
    )
    # consumed twice (cap probe + pair generation); slim: one row per
    # multi-member bucket
    members = members.persist()
    if persist_tracker is not None:
        persist_tracker.append(members)

    if max_bucket is not None:
        # eager slim probe: when no bucket is degenerate (the normal
        # case) the plan below stays untouched
        over_rows = (
            members.select(F.size("members").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket)
            .limit(1001)
            .collect()
        )
        if over_rows:
            suffix = "+" if len(over_rows) > 1000 else ""
            log.warning(
                "minhash_lsh_pairs: dropping %d%s degenerate band buckets "
                "(> %d members; largest seen %d) — near-dup recall inside "
                "those buckets is lost; run exact_dedup first for exact "
                "duplicates",
                len(over_rows),
                suffix,
                max_bucket,
                max(x["bucket_n"] for x in over_rows),
            )
            members = members.filter(F.size("members") <= max_bucket)

    cand = (
        members.select(F.array_sort("members").alias("ms"))
        .select("ms", F.posexplode("ms").alias("i", "doc_a"))
        .select("doc_a", F.expr("slice(ms, i + 2, size(ms))").alias("rest"))
        .select("doc_a", F.explode("rest").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # persisted: the plan below references cand three ways (both
    # semi-join id sides + the pair join) — without the cache the
    # banded self-join would run three times
    cand = cand.persist()
    if persist_tracker is not None:
        persist_tracker.append(cand)
    # attach shingle sets only for the (few) candidate pairs. The semi
    # join narrows the corpus-sized shingle table to candidate members
    # BEFORE the equi-joins: without it those joins shuffle the whole
    # shingle table by doc_id twice to serve a candidate set that is
    # orders of magnitude smaller (at 10M docs that shuffle — tens of
    # GB, twice — was the pipeline's peak-storage stage; the candidate
    # id set is tiny, so AQE turns the semi join into a broadcast and
    # the shingle table is filtered in place, never exchanged).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .dropDuplicates(["doc_id"])
    )
    # merge hint: the attach joins below must NEVER broadcast the
    # shingle-carrying side. The planner's post-semi-join size ESTIMATE
    # for this table is fiction (guide §3.1: estimates go badly wrong
    # after filters) — at 10M docs it undershot the 64 MB threshold on
    # a table whose real broadcast relation is ~4 GB of shingle arrays
    # and OOM'd the executors deserializing it (measured this round).
    # Sort-merge keyed on doc id is the scale shape for both
    # attachments; the slim candidate-id semi join above stays free to
    # broadcast (ids only, bounded by 2x the pair count).
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi").hint("merge")
    with_sets = cand.join(
        sh_cand.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sh_cand.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    jac = with_sets.select(
        "doc_a",
        "doc_b",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
            6,
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs_sql(
    h: int = MINHASH_H, bands: int = MINHASH_BANDS, threshold: float = JACCARD_THRESHOLD
) -> str:
    r = h // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, shingles, {b} AS band, md5({parts}) AS band_sig FROM s2".format(
            b=b, parts=" || '|' || ".join(f"sig[{b * r + i + 1}]" for i in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH tk AS ({_DUCK_TOKS_CTE}),
sh AS (
  SELECT doc_id, {_duck_shingles()} AS shingles FROM tk
), d AS (
  SELECT doc_id, shingles, list_transform(shingles, s -> sha256(s)) AS digs
  FROM sh WHERE len(shingles) > 0
), s2 AS (
  SELECT doc_id, shingles, [{_duck_lane_mins(h)}] AS sig FROM d
), banded AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_intersect(sh_a, sh_b))::DOUBLE
             / len(list_distinct(sh_a || sh_b)), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sh_a, sh_b))::DOUBLE / len(list_distinct(sh_a || sh_b))
      >= {threshold}
"""


# ---------------------------------------------------------------------------
# near-duplicate clusters: connected components over the LSH pair graph
# ---------------------------------------------------------------------------


def duplicate_clusters(
    docs: DataFrame,
    h: int = MINHASH_H,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int | None = MAX_BAND_BUCKET,
    max_iter: int = 20,
    toks_col: str | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """(doc_id, cluster_rep, is_duplicate): every document labeled with
    the minimum doc_id of its near-duplicate connected component
    (transitive closure of :func:`minhash_lsh_pairs` edges; singletons
    represent themselves). A training pipeline keeps ``cluster_rep``
    rows and drops the rest — pairwise output alone under-removes when
    A~B and B~C but A/C never candidate together.

    Min-label propagation over the symmetric edge list: each round a
    node takes the min of its own and its neighbors' labels — a join +
    groupBy per round, converging in O(cluster diameter) rounds
    (near-dup clusters are shallow; the degenerate deep-chain case is
    exactly what ``max_bucket`` already bounds). Convergence is
    detected by the strictly-decreasing label sum — one tiny aggregate
    per round, no row-level diff join.

    ``persist_tracker``: the returned plan references the final cached
    labels table (one slim row per pair-graph member); pass a list to
    receive the handle and unpersist it once the output materializes —
    without it the cache lives until the ContextCleaner collects the
    plan (the ADVICE-flagged per-call leak).
    """
    upstream: list = []
    pairs = minhash_lsh_pairs(
        docs, h=h, bands=bands, threshold=threshold, max_bucket=max_bucket,
        persist_tracker=upstream, toks_col=toks_col,
    ).select("doc_a", "doc_b")
    sym = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()

    # materialize the slim symmetric edge list FIRST and release the LSH
    # pipeline's corpus-sized cached intermediates (shingles, bucket
    # members, candidates) before label propagation starts: the loop
    # below only ever reads sym, so holding tens of GB of shingle cache
    # through O(diameter) propagation rounds was pure peak-storage cost
    # (measured at 10M: the single job that materialized sym+labels+the
    # whole LSH cache graph at once also tripped Spark's concurrent
    # cache-rebuild path; sequencing the builds avoids both).
    sym.count()
    for h_ in upstream:
        h_.unpersist(blocking=False)

    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("rep", F.col("doc_id"))
        .persist()
    )
    prev_sum = labels.agg(F.sum("rep").cast("decimal(38,0)").alias("s")).collect()[0]["s"]
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("rep").alias("nrep"))
        )
        new_labels = (
            labels.join(neigh, labels["doc_id"] == neigh["doc_a"], "left")
            .select(
                labels["doc_id"],
                F.least(labels["rep"], F.coalesce(neigh["nrep"], labels["rep"])).alias(
                    "rep"
                ),
            )
            .persist()
        )
        new_sum = new_labels.agg(
            F.sum("rep").cast("decimal(38,0)").alias("s")
        ).collect()[0]["s"]
        labels.unpersist(blocking=False)
        labels = new_labels
        if new_sum == prev_sum:  # labels only decrease: equal sum = fixpoint
            break
        prev_sum = new_sum

    out = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("rep"), F.col("doc_id")).alias("cluster_rep"),
            (F.coalesce(F.col("rep"), F.col("doc_id")) != F.col("doc_id")).alias(
                "is_duplicate"
            ),
        )
    )
    sym.unpersist(blocking=False)
    if persist_tracker is not None:
        persist_tracker.append(labels)
    return out


def duplicate_clusters_sql(
    h: int = MINHASH_H, bands: int = MINHASH_BANDS, threshold: float = JACCARD_THRESHOLD
) -> str:
    """DuckDB oracle: transitive closure via a recursive CTE over the
    same LSH pair graph, rep = min doc_id reachable (incl. self)."""
    pairs_sql = minhash_lsh_pairs_sql(h=h, bands=bands, threshold=threshold)
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pairs_sql}) t
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a
)
SELECT d.doc_id,
       coalesce(c.rep, d.doc_id) AS cluster_rep,
       d.doc_id <> coalesce(c.rep, d.doc_id) AS is_duplicate
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# direct n-gram Jaccard (bounded pairwise — the exact-verification
# primitive; LSH above is the scale path for candidate generation)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.3, max_doc_id: int = 150
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over all pairs within a doc-id window."""
    sh = _shingled(docs.filter(F.col("doc_id") < max_doc_id))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.shingles", "b.shingles")).cast("double")
                / F.size(F.array_union("a.shingles", "b.shingles")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(threshold: float = 0.3, max_doc_id: int = 150) -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
  WHERE doc_id < {max_doc_id}
), sh AS (
  SELECT doc_id, {_duck_shingles()} AS shingles FROM tk
), sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / len(list_distinct(a.shingles || b.shingles)) >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash (32-dim md5-nibble variant, engine-portable)
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-char bitstring; bit d = majority vote of the
    high bit of md5(token) hex nibble d, weighted by term frequency."""
    t = F.expr(SPARK_TOKENS)
    toks = widen_scan(docs).select("doc_id", F.explode(t).alias("tok"))
    weighted = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    hashed = weighted.select(
        "doc_id", "tf", F.md5("tok").alias("h")
    )
    bit_cols = []
    for d in range(32):
        nib_high = F.substring("h", d + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f")
        bit_cols.append(
            F.sum(F.when(nib_high, F.col("tf")).otherwise(-F.col("tf"))).alias(f"s{d}")
        )
    agg = hashed.groupBy("doc_id").agg(*bit_cols)
    sig = F.concat(
        *[F.when(F.col(f"s{d}") > 0, F.lit("1")).otherwise(F.lit("0")) for d in range(32)]
    )
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_signatures_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN substr(h, {d + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) AS s{d}"
        for d in range(32)
    )
    bits = " || ".join(
        f"CASE WHEN s{d} > 0 THEN '1' ELSE '0' END" for d in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
), w AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), h AS (
  SELECT doc_id, tf, md5(tok) AS h FROM w
), s AS (
  SELECT doc_id, {sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash FROM s
"""
