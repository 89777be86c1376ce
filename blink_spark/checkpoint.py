"""Stage checkpointing with per-partition lineage — the resume layer.

north_rule requires every stage to checkpoint "with per-partition lineage +
metrics so runs resume mid-pipeline". The reference's analog is ad-hoc:
pickle dumps per stage (``blink/candidate_retrieval/process_wikidata.py:103``),
npy prediction caches reread on restart (``elq/main_dense.py:571-588,
756-779``), newest-epoch-by-mtime resume (``blink/crossencoder/train_cross.py:
253-271``). This module replaces all of that with one idempotent
load-or-compute layer.

Production target is Iceberg (``df.writeTo(table).createOrReplace()`` —
snapshot id becomes the lineage anchor and readers get snapshot isolation);
this sandbox has no Iceberg runtime jars, so the same API is implemented
over Parquet + an atomically-renamed ``_lineage.json`` sidecar. The sidecar
is written only after the data commit succeeds, so a crashed write is
re-run, never half-read.

The manager also owns a run's persisted DataFrames: in-memory stages (no
``base_dir``) and the operator intermediates registered via ``persist``,
all released by ``unpersist``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class CheckpointManager:
    spark: SparkSession
    base_dir: str | None = None  # None: in-memory stages, nothing durable
    run_id: str = "run0"
    stages_written: list[str] = field(default_factory=list)
    stages_resumed: list[str] = field(default_factory=list)
    persisted: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and register it for release by :meth:`unpersist`."""
        df = df.persist()
        self.persisted.append(df)
        return df

    def unpersist(self, blocking: bool = False) -> None:
        """Release every frame this manager persisted, once the results are
        materialized; long-lived drivers otherwise accumulate partitions."""
        for df in self.persisted:
            df.unpersist(blocking)
        self.persisted.clear()

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, self.run_id, name)

    def _lineage_path(self, name: str) -> str:
        return os.path.join(self._path(name), "_lineage.json")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._lineage_path(name))

    def lineage(self, name: str) -> dict:
        with open(self._lineage_path(name)) as f:
            return json.load(f)

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        """Materialize a stage + record per-partition lineage; returns the reread DF."""
        path = self._path(name)
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        reread = self.spark.read.parquet(path)
        # per-(file-)partition row counts of the materialized stage
        part_rows = [
            {"part_id": int(r["part_id"]), "rows": int(r["rows"])}
            for r in reread.groupBy(F.spark_partition_id().alias("part_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        lineage = {
            "stage": name,
            "run_id": self.run_id,
            "rows": sum(p["rows"] for p in part_rows),
            "n_partitions": len(part_rows),
            "partitions": sorted(part_rows, key=lambda p: p["part_id"]),
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self._lineage_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, self._lineage_path(name))  # atomic commit marker
        self.stages_written.append(name)
        return reread

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def stage(self, name: str, compute: Callable[[], DataFrame], partition_by: list[str] | None = None) -> DataFrame:
        """Idempotent load-or-compute: resume point if the stage already
        committed. Without a ``base_dir`` the stage is persisted in memory
        (computed once, not per downstream action — the reference equally
        caches entity encodings, eval_biencoder.py:229-253)."""
        if self.base_dir is None:
            return self.persist(compute())
        if self.exists(name):
            self.stages_resumed.append(name)
            return self.read(name)
        return self.write(name, compute(), partition_by=partition_by)
