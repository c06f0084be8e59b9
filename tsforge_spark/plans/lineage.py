"""Per-partition lineage records + per-stage metrics.

Modeled on the reference lineage tracker (nested dicts of input shape /
steps / output shape, ``src/tsforge/workflows/lineage.py:27-74``, JSON
export ``:214-222``) but re-shaped for a distributed engine: lineage is an
*appendable table* with one row per (job, stage, hash-bucket) carrying the
input snapshot range, row counts and encoded bytes — the audit trail that
lets a late-data re-fold prove exactly which cells it touched
(SURVEY.md §7.4.6).
"""

from __future__ import annotations

import json
import os
import time
import uuid


def new_job_id() -> str:
    return uuid.uuid4().hex[:12]


class MetricsLog:
    """Per-stage metrics sink (jsonl) — the Spark analogue of the
    reference Recipe ``on_step`` shape callbacks
    (``src/tsforge/workflows/recipe.py:60-101``)."""

    def __init__(self, path: str, job_id: str):
        self.path = path
        self.job_id = job_id
        os.makedirs(os.path.dirname(path), exist_ok=True)

    def log(self, stage: str, **fields) -> dict:
        rec = {"job_id": self.job_id, "stage": stage, "ts": time.time(), **fields}
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return rec


def append_lineage(
    path: str,
    job_id: str,
    stage: str,
    snapshot_id: int,
    counts: list[tuple[int, int]],
    byte_count: int | None = None,
    detail: str | None = None,
) -> None:
    """Append lineage rows as ONE driver-written parquet file — a
    lineage batch is ≤ n_buckets tiny rows, and a Spark write job costs
    ~1s of fixed launch/commit overhead per pipeline run (on Iceberg
    this is a metadata-table insert).  Every file carries the same
    all-nullable schema — the table below is the lineage table's one
    definition — so Spark reads the directory transparently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "job_id": pa.array([job_id] * len(counts), pa.string()),
            "stage": pa.array([stage] * len(counts), pa.string()),
            "snapshot_id": pa.array([snapshot_id] * len(counts), pa.int64()),
            "bucket_id": pa.array([int(b) for b, _ in counts], pa.int32()),
            "row_count": pa.array([int(c) for _, c in counts], pa.int64()),
            "byte_count": pa.array([byte_count] * len(counts), pa.int64()),
            "detail": pa.array([detail] * len(counts), pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, f"lineage-{job_id}-{stage}.parquet")
    )
