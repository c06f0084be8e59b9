"""Partitioning helpers for CPU-bound grouped Python kernels.

AQE coalesces shuffle partitions by BYTES (with ``parallelismFirst``
the floor is still ``minPartitionSize``, 1MB), which is the wrong
objective for a grouped ``applyInPandas`` stage whose per-row cost is
dominated by per-GROUP kernel CPU: a small-bytes input collapses to
one task and the whole kernel fleet runs serially (measured on the
loess consumer: 12s single-task vs ~0.5s parallel for 1000 series).

``kernel_repartition`` pins the kernel stage's parallelism with a
hash repartition the planner will actually keep:

- the count is ``2·defaultParallelism + 1`` — ODD, so it can never
  statically equal a conf-derived upstream partition count, which is
  what lets EnsureRequirements remove a user repartition as redundant
  (identical HashPartitioning) and leaves the kernel downstream of an
  AQE-coalescible exchange instead;
- user-numbered repartitions are exempt from AQE coalescing;
- ``groupBy(keys)`` on the repartitioned frame reuses the
  partitioning (HashPartitioning(keys) satisfies the grouping's
  ClusteredDistribution at any partition count), so no second shuffle;
- ~2 group-waves per core packs skewed group sizes.

(``repartitionByRange`` would also survive, but samples its child —
recomputing the whole upstream plan twice; measured +2-3s.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def kernel_repartition(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key_cols`` into 2·cores+1
    partitions for a downstream CPU-bound grouped kernel (see module
    docstring for why this survives the planner where a plain
    repartition does not)."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism + 1
    return df.repartition(n, *key_cols)


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-spread a scan whose physical split count cannot occupy the
    cores — the single-row-group / few-file input shape, where parquet
    cannot split below row-group granularity and a whole map-side
    pipeline (decode, bucket exprs, partial aggregation) runs on a
    handful of tasks no matter what ``maxPartitionBytes`` says
    (measured: the 1M-row events table scans as 4 splits on 32 cores
    and the hourly partial aggregate alone took 1.1s serial vs 0.58s
    spread).

    Scale-adaptive by construction: the check is the actual scan
    partition count against ``defaultParallelism``, so on real inputs
    (thousands of splits ≥ cores) this returns ``df`` unchanged and no
    raw-row shuffle is ever added — repartitioning raw rows before a
    partial aggregate would be an anti-pattern there.  Locally it
    inserts ``kernel_repartition`` on the downstream grouping key, so
    the one extra exchange both parallelizes the map work and already
    satisfies the next groupBy/window's clustering (no second
    shuffle)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() * 2 <= sc.defaultParallelism:
        return kernel_repartition(df, *key_cols)
    return df
