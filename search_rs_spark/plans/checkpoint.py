"""Checkpoint-resumable stage runner with manifests + metrics.

Every build stage writes a parquet dataset plus a ``_MANIFEST.json``
recording the stage name, an input/params fingerprint, row count,
wall-clock, per-partition lineage (file count) and the written schema,
so a reader needs no schema-inference job. Re-running the build with
the same fingerprint skips completed stages — the resumability the
north rule requires (the reference has none; its build is a single
in-RAM pass, /root/reference/search/src/engine/builder.rs:44-130).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"


def fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def stage_schema(path: str) -> "StructType | None":
    """The schema the stage at ``path`` was written with, from its
    manifest; None for a manifest without one (older layouts) or none
    at all, which leaves the reader to infer it."""
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            schema = json.load(f).get("schema")
    except (OSError, json.JSONDecodeError):
        return None
    return StructType.fromJson(json.loads(schema)) if schema else None


@dataclass
class StageRunner:
    spark: SparkSession
    out_dir: str
    build_fingerprint: str
    resume: bool = True
    metrics: list[dict] = field(default_factory=list)

    def path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.path(stage), MANIFEST)

    def is_done(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not (self.resume and os.path.exists(mp)):
            return False
        try:
            with open(mp) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return (
            m.get("fingerprint") == self.build_fingerprint
            and os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))
        )

    def run(
        self, stage: str, make_df, write_options: "dict[str, str] | None" = None
    ) -> DataFrame:
        """Write ``make_df()`` to ``<out>/<stage>`` (``write_options`` go
        to the writer) unless already done."""
        from ..sources.catalog import read_stage, write_stage

        target = self.path(stage)
        if self.is_done(stage):
            self.metrics.append({"stage": stage, "skipped": True})
            return read_stage(self.spark, target, stage_schema(target))

        t0 = time.time()
        df = make_df()
        write_stage(df, target, write_options)
        elapsed = time.time() - t0

        written = read_stage(self.spark, target, df.schema)
        # row count from parquet footers when possible (no Spark job)
        files = [f for f in os.listdir(target) if f.endswith(".parquet")]
        if files:
            import pyarrow.parquet as pq

            n_rows = sum(
                pq.ParquetFile(os.path.join(target, f)).metadata.num_rows
                for f in files
            )
        else:  # non-parquet layout (iceberg): one count job
            n_rows = written.count()
        n_files = len(files)
        manifest = {
            "stage": stage,
            "fingerprint": self.build_fingerprint,
            "rows": n_rows,
            "files": n_files,
            "schema": df.schema.json(),
            "seconds": round(elapsed, 3),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self.metrics.append(manifest)
        return written

    def write_json(self, stage: str, obj: dict) -> None:
        os.makedirs(self.path(stage), exist_ok=True)
        with open(os.path.join(self.path(stage), "data.json"), "w") as f:
            json.dump(obj, f, indent=1)
        with open(os.path.join(self.path(stage), "_SUCCESS"), "w") as f:
            f.write("")
        with open(self._manifest_path(stage), "w") as f:
            json.dump({"stage": stage, "fingerprint": self.build_fingerprint}, f)

    def read_json(self, stage: str) -> dict:
        with open(os.path.join(self.path(stage), "data.json")) as f:
            return json.load(f)
