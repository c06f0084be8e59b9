"""Explicit skew control: hot-key detection + block salting
(SURVEY §4.2.1; north rule: "hash(conv_id) bucketed with explicit
salting for hot conversations").

AQE splits skewed *join* partitions but cannot split one giant group fed
to a grouped kernel or one oversized hash-bucket partition.  The engine's
defense:

1. ``hot_keys``: cheap pre-aggregation marking ids whose row count
   exceeds a threshold (broadcast back — the hot set is small by
   definition).
2. ``salted_layout``: physical partition key
   ``(bucket_id, salt)`` where ``salt = turn_idx // block_size`` for hot
   ids and 0 otherwise — a hot conversation spreads over ceil(n/block)
   partitions in *contiguous, internally ordered* blocks, so
   ``sortWithinPartitions(conv_id, ts, turn_idx)`` still yields stable
   per-block turn order (the invariant the text-equality check needs),
   while no single partition holds more than ``block_size`` of any one
   conversation.

The blob encoder needs no salt: its groups are already bounded by
segment chunking (codec/blobs.py).  Tumbling rollups need none either:
hash aggregation does map-side partial aggregation before the shuffle,
so a hot conversation contributes at most one partial row per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(
    df: DataFrame, key: str, threshold: int = 100_000
) -> DataFrame:
    """Ids with more than ``threshold`` rows — one narrow aggregation."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > threshold)
        .select(key)
    )


def salted_layout(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    n_buckets: int = 32,
    hot_threshold: int = 100_000,
    block_size: int = 50_000,
    hot_ids: list | None = None,
    sort_prefix: tuple[str, ...] = (),
    extra_partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Add ``bucket_id`` and ``salt`` columns and repartition on both,
    sorted within partitions by ``(*sort_prefix, key, ts, order_col)``.

    ``hot_ids``: precomputed hot-key values (e.g. from a key aggregate
    the caller already ran for dedup verification) — skips the internal
    detection scan.  The hot set is small by definition, so it travels
    as literals; an empty list means the salt column is a constant and
    the layout costs exactly one shuffle with no join at all.

    ``sort_prefix``: extra leading sort columns (must already exist on
    ``df``, or be ``bucket_id``).  A caller that writes the frame
    ``partitionBy(*cols)`` must pass those columns here: the file writer
    requires task rows ordered by the partition columns and, when the
    child ordering doesn't start with them, plans its own sort on just
    those columns — and the optimizer then DROPS the layout sort beneath
    it as redundant, so files lose per-key contiguity and
    ``(ts, order_col)`` order.  With the prefix the requirement is
    already met and the layout sort is the plan's only sort.  The
    partition columns are constant within a written file, so per-file
    row order is still ``(key, ts, order_col)``."""
    if hot_ids is None:
        hot = hot_keys(df, key, hot_threshold).withColumn("_hot", F.lit(1))
        out = df.join(F.broadcast(hot), key, "left")
        is_hot = F.col("_hot").isNotNull()
    else:
        out = df
        is_hot = F.col(key).isin(hot_ids) if hot_ids else F.lit(False)
    salt = F.when(
        is_hot,
        (F.col(order_col).cast("long") / F.lit(block_size)).cast("int"),
    ).otherwise(F.lit(0))
    out = (
        out.withColumn(
            "bucket_id", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
        )
        .withColumn("salt", salt)
    )
    if hot_ids is None:
        out = out.drop("_hot")
    # Sort led by xxhash64(key): real-world ids share long literal
    # prefixes ("conv_000...", "sess_2025..."), which defeats the
    # sorter's 8-byte prefix comparison — every compare walks the full
    # string.  A 64-bit hash first key resolves ~all comparisons in the
    # prefix (collisions fall through to the lexicographic key).  The
    # layout contract is per-key contiguity + (ts, order_col) order
    # WITHIN a key — which hash grouping preserves exactly; only the
    # (irrelevant) relative order of different keys changes.
    #
    # ``extra_partition_cols`` joins the repartition key (round 8): with
    # only (bucket_id, salt) the exchange hashes n_buckets·(salts)
    # distinct values into ~that many partitions — the guide's
    # synthetic-key collision hazard (some partitions get 2-3 buckets,
    # others none, and the biggest task caps the write wave).  A caller
    # that also partitions its WRITE by a date column passes it here:
    # (day, bucket_id, salt) has ~days× more distinct values over the
    # same partition count, so loads even out (measured: store write
    # 35.9s → 32.4s at sf1.0).  Every (day, bucket) file group still
    # lands wholly in ONE task, so file count, file contents and
    # per-file row order are unchanged.
    return out.repartition(
        *extra_partition_cols, "bucket_id", "salt"
    ).sortWithinPartitions(*sort_prefix, F.xxhash64(key), key, "ts", order_col)
