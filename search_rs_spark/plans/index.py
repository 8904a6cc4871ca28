"""Loaded index handle: the query-side view of the build outputs.

Spark analogue of ``Engine::load_index``
(/root/reference/search/src/engine/mod.rs:85-92): DataFrames for the
big tables, a tiny stats dict, and a lazily-built driver-side
vocabulary (term -> (term_id, df), plus each term's block count for
the WAND cost gate) + trigram index used for spellchecking — the moral
equivalent of the reference loading ``idx.alphas`` into RAM
(vocabulary.rs:44-97).

For corpora whose vocabulary is too large to hold driver-side, the
spellcheck falls back to a distributed trigram join
(operators/spellcheck.py); the driver-side path is used below a row
threshold.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spellcheck import DriverVocabulary

DRIVER_VOCAB_MAX_TERMS = 2_000_000


# below this on-disk size a stage's scan is coalesced to a handful of
# read tasks: spark.sql.files.minPartitionNum defaults to the session
# parallelism, so a 2 MB postings table would otherwise schedule 32
# near-empty tasks PER QUERY JOB — pure scheduling overhead. At real
# scale the byte count exceeds the threshold and the scan keeps its
# natural split-based parallelism; correctness is unaffected either
# way (coalesce merges scan partitions; pushdown happens below it).
SMALL_SCAN_BYTES = 64 * 1024 * 1024
SMALL_SCAN_TARGET_BYTES = 16 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@dataclass
class SearchIndex:
    spark: SparkSession
    path: str
    stats: dict
    _driver_vocab: "DriverVocabulary | None" = field(default=None, repr=False)
    _n_blocks: list = field(default_factory=list, repr=False)
    _stage_dfs: dict = field(default_factory=dict, repr=False)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SearchIndex":
        with open(os.path.join(path, "stats", "data.json")) as f:
            stats = json.load(f)
        return cls(spark=spark, path=path, stats=stats)

    def _stage_df(self, stage: str) -> DataFrame:
        """One analyzed relation per stage per handle: the stages are
        immutable checkpoints, so re-running file listing + footer reads
        on every property access (two driver jobs per query) is waste.
        Small stages additionally coalesce their scan (SMALL_SCAN_BYTES).
        The manifest's schema spares the read its schema-inference job."""
        if stage not in self._stage_dfs:
            from ..sources.catalog import read_stage
            from .checkpoint import stage_schema

            path = os.path.join(self.path, stage)
            df = read_stage(self.spark, path, stage_schema(path))
            # only local directories are sizeable via os.walk; for any
            # other URI scheme (or an unreadable path) keep Spark's
            # natural split parallelism rather than treating the
            # unknown size as 0 and serializing every scan to 1 task
            size = _dir_bytes(path) if os.path.isdir(path) else SMALL_SCAN_BYTES
            if size < SMALL_SCAN_BYTES:
                df = df.coalesce(
                    max(1, -(-size // SMALL_SCAN_TARGET_BYTES))
                )
            self._stage_dfs[stage] = df
        return self._stage_dfs[stage]

    @property
    def doc_lengths(self) -> DataFrame:
        """(doc_id, url, doc_len) — a pruned view over the tokens table
        (columnar read skips the tokens arrays; no duplicate storage)."""
        return self._stage_df("tokens").select("doc_id", "url", "doc_len")

    def urls(self, doc_ids: "list[int]") -> "list[str]":
        """The urls of ``doc_ids``, in their order, read from the tokens
        stage without a Spark job when it is parquet
        (sources.catalog.stage_urls); a missing id raises ValueError."""
        from ..sources.catalog import stage_urls

        return stage_urls(self.spark, os.path.join(self.path, "tokens"), doc_ids)

    @property
    def vocabulary(self) -> DataFrame:
        return self._stage_df("vocabulary")

    @property
    def postings(self) -> DataFrame:
        return self._stage_df("postings")

    @property
    def num_docs(self) -> int:
        return int(self.stats["num_docs"])

    @property
    def avgdl(self) -> float:
        return float(self.stats["avgdl"])

    def driver_vocab(self) -> "DriverVocabulary":
        if self._driver_vocab is None:
            # size gate BEFORE the collect: at scale, collecting an
            # over-threshold vocabulary would OOM the driver before the
            # RuntimeError that routes callers to spellcheck_distributed
            # could fire. The stage manifest's row count (written at
            # build time, plans/checkpoint.py) answers it without a job;
            # a count() is the fallback for manifests from older layouts.
            n_terms = self._vocab_row_count()
            if n_terms > DRIVER_VOCAB_MAX_TERMS:
                raise RuntimeError(
                    f"vocabulary too large for driver-side spellcheck "
                    f"({n_terms} terms); use distributed spellcheck"
                )
            # collect unordered and sort driver-side: an orderBy here
            # costs a full range exchange (plus its sampling job) just
            # to order rows the driver is about to hold in memory
            # anyway — the gate above already bounds the row count
            # (guide §2.4: an orderBy used only to make output
            # deterministic is an accidental shuffle)
            rows = sorted(
                self.vocabulary.select("term", "term_id", "df", "n_blocks").collect(),
                key=lambda r: r["term_id"],
            )
            # defense-in-depth: a manifest with a stale/wrong rows field
            # (hand-assembled index dirs) must not smuggle an oversized
            # vocabulary past the pre-collect gate unnoticed
            if len(rows) > DRIVER_VOCAB_MAX_TERMS:
                raise RuntimeError(
                    f"vocabulary too large for driver-side spellcheck "
                    f"({len(rows)} terms, manifest claimed {n_terms}); "
                    f"use distributed spellcheck"
                )
            self._driver_vocab = DriverVocabulary(
                terms=[r["term"] for r in rows], dfs=[r["df"] for r in rows]
            )
            self._n_blocks = [r["n_blocks"] for r in rows]
        return self._driver_vocab

    def n_blocks(self, terms) -> "dict[str, int]":
        """term -> the number of doc-id blocks it spans (its postings
        rows), for vocabulary terms: from the driver vocabulary when it
        fits, else one filtered vocabulary collect (the df fallback of
        ``resolve_query_terms``)."""
        try:
            vocab = self.driver_vocab()
        except RuntimeError:
            return {
                r["term"]: r["n_blocks"]
                for r in self.vocabulary.filter(F.col("term").isin(sorted(terms)))
                .select("term", "n_blocks")
                .collect()
            }
        return {t: self._n_blocks[vocab.term_to_index[t]] for t in terms}

    def _vocab_row_count(self) -> int:
        """Vocabulary cardinality WITHOUT collecting it: the stage
        manifest's ``rows`` field (written from parquet footers at build
        time), else one distributed count()."""
        from .checkpoint import MANIFEST

        mp = os.path.join(self.path, "vocabulary", MANIFEST)
        try:
            with open(mp) as f:
                rows = json.load(f).get("rows")
            if rows is not None:
                return int(rows)
        except (OSError, json.JSONDecodeError, ValueError):
            pass
        return self.vocabulary.count()

    def idf(self, df: int) -> float:
        """BM25 idf (mod.rs:158-159), intended-df semantics per SURVEY §1.4."""
        n = float(self.num_docs)
        nq = float(df)
        return math.log((n - nq + 0.5) / (nq + 0.5) + 1.0)
