"""Snapshot-versioned append store — Iceberg semantics over plain parquet.

The production design reads an Iceberg transcript table incrementally
(``spark.read.format("iceberg").option("start-snapshot-id", ...)`` —
SURVEY.md §2.1).  Iceberg jars are not available in this sandbox, so this
module provides the same contract over parquet: every ``append`` writes an
immutable snapshot directory and registers it in an atomically-replaced
JSON manifest; readers ask for "all snapshots after id N" and get a
DataFrame whose parquet file list is exactly those snapshots.

Mapping to Iceberg (what changes on a real cluster):
  append()        -> df.writeTo(tbl).append()  (one Iceberg snapshot)
  read(after=N)   -> spark.read.format("iceberg")
                       .option("start-snapshot-id", N).load(tbl)
  manifest.json   -> Iceberg table metadata / snapshot log
Nothing else in the engine touches the storage layer.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from tsforge_spark.schema import TRANSCRIPT_SCHEMA


class SnapshotStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def last_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else 0

    def append(self, df: DataFrame) -> int:
        """Write one immutable snapshot; returns its id."""
        m = self._read_manifest()
        sid = (m["snapshots"][-1]["id"] + 1) if m["snapshots"] else 1
        rel = f"snap-{sid:06d}"
        out = os.path.join(self.path, rel)
        df.write.mode("errorifexists").parquet(out)
        m["snapshots"].append(
            {"id": sid, "dir": rel, "committed_at": time.time()}
        )
        self._write_manifest(m)
        return sid

    def read(
        self, spark: SparkSession, after: int = 0, upto: int | None = None
    ) -> DataFrame | None:
        """DataFrame over snapshots with ``after < id <= upto`` (None when
        that range is empty) — the incremental-scan primitive.  Snapshots
        hold transcript rows; the explicit schema spares a
        schema-inference job per read."""
        dirs = [
            os.path.join(self.path, s["dir"])
            for s in self.snapshots()
            if s["id"] > after and (upto is None or s["id"] <= upto)
        ]
        if not dirs:
            return None
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*dirs)
