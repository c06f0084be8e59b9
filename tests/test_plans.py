"""Physical-plan quality gates (task brief: '.explain the plan and
iterate until it's the plan you'd want').

These assert the properties that matter at 100 TB:
- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning keeps unused (esp. binary payload) columns out of
  ReadSchema,
- small dims broadcast (BroadcastHashJoin, no shuffle of the fact side),
- a tier rollup is exactly one shuffle (partial → final hash aggregate),
- window features share one shuffle across all feature columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_shuffles(plan: str) -> int:
    # formatted plans put the partitioning on the Arguments line
    return plan.count("Arguments: hashpartitioning(")


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_filter_pushdown_to_scan(spark, events):
    df = events.filter(F.col("user_id") == 7).select("user_id", "value")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_readschema(spark, events):
    df = events.select("user_id", "ts")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_payload_never_read_for_metadata(spark, tmp_path):
    from tsforge_spark.operators.multimodal import make_fake_media, media_metadata

    path = str(tmp_path / "media")
    make_fake_media(spark, 16).write.parquet(path)
    meta = media_metadata(spark.read.parquet(path)).drop("n_bytes")
    read_schema = plan_of(meta).split("ReadSchema")[1][:300]
    assert "payload" not in read_schema


def test_broadcast_join_for_small_dims(spark):
    from tsforge_spark.catalog import q_revenue_by_nation

    plan = plan_of(q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the fact table (orders) must not be exchanged for the joins —
    # the only Exchange is the final groupBy shuffle
    assert n_shuffles(plan) <= 1, plan


def test_rollup_is_single_shuffle_with_partial_agg(spark, transcripts):
    from tsforge_spark.operators.rollup import rollup_transcripts

    plan = plan_of(rollup_transcripts(transcripts, "1m"))
    assert n_shuffles(plan) == 1
    # map-side partial aggregation before the shuffle
    assert "HashAggregate" in plan


def test_window_features_share_one_shuffle(spark, events):
    from tsforge_spark.catalog import q_rolling_hour_features

    plan = plan_of(q_rolling_hour_features(spark, SF))
    # one shuffle for the groupBy(user, bucket), one for the window
    # partitionBy(user) — all six feature columns ride the same window
    # exchange
    assert n_shuffles(plan) <= 2, plan


def test_gapfill_fills_share_one_window_exchange(spark):
    """locf(filled_cents) + linear-interp(vh) in one query must reuse a
    single per-user window shuffle, not one per fill column."""
    from tsforge_spark.catalog import q_gapfill_hour

    plan = plan_of(q_gapfill_hour(spark, SF))
    # groupBy(user,bucket) hourly agg + grid span agg + ONE window
    # exchange shared by all four window fill expressions
    assert n_shuffles(plan) <= 3, plan
    # both edge-fill directions live in Window nodes, no UDF anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_has_no_cartesian_product(spark):
    """Near-dup candidate generation must be an equi-join on band keys —
    never an all-pairs product (the thing that cannot scale)."""
    from tsforge_spark.catalog_docs import q_minhash_lsh_jaccard

    plan = plan_of(q_minhash_lsh_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_blocks_on_cells(spark):
    from tsforge_spark.catalog_docs import q_embedding_neardup

    plan = plan_of(q_embedding_neardup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stl_decompose_plan_shape(spark):
    """Decomposition = one per-series window + one (id, phase) aggregate
    + small joins back — and stays entirely JVM-side (no Python UDF)."""
    from tsforge_spark.catalog_ts import q_stl_decompose

    plan = plan_of(q_stl_decompose(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_tier_fold_prunes_day_partitions(spark, tmp_path):
    from tsforge_spark.operators.rollup import rollup_transcripts

    t1m = rollup_transcripts(
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            "cast(user_id as string) conv_id", "cast(user_id as int) turn_idx",
            "'user' role", "props text", "event_type tool", "ts",
        ),
        "1m",
    ).withColumn("day", F.to_date("bucket"))
    path = str(tmp_path / "t1m")
    t1m.write.partitionBy("day").parquet(path)
    pruned = spark.read.parquet(path).filter(
        F.col("day").isin(["2024-01-03", "2024-01-04"])
    )
    # partition-pruned scan: only 2 of ~30 day partitions planned
    n_parts = pruned.select("day").distinct().count()
    assert n_parts == 2
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan


def test_no_cartesian_products_anywhere(spark):
    """Sweep EVERY catalog query's physical plan: a CartesianProduct is
    the shape that cannot scale, so none may appear.  (Broadcast
    nested-loop joins are allowed only for deliberate 1-row/16-row
    broadcast cross joins.)"""
    import __spark_entry__ as entry_mod

    # deliberate bounded-broadcast cross joins: 1-row global stats, and
    # the IVF centroid-scoring join (≤k-row broadcast side, k bounded —
    # every vector scores against every centroid BY DESIGN; the argmax
    # reduces it map-side before any shuffle).  embedding_neardup uses
    # the same shape but its returned plan starts at the eager
    # localCheckpoint, so the sweep can't see it.
    bnlj_ok = {"target_mean_encoding", "ann_ivf"}
    offenders = []
    for name, fn in entry_mod.queries().items():
        plan = plan_of(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_minhash_signatures_is_pure_mapside(spark):
    """The signature query (MinHash + SimHash) must plan as ONE
    map-side pass: zero Exchanges (no explode/groupBy, no join) and at
    most 2 md5 references in the optimized plan (one hashed-shingle
    transform for MinHash, one hashed-token transform for SimHash) —
    the chained-projection shape that keeps md5 work O(tokens), not
    O(tokens x k)."""
    from tsforge_spark.catalog import QUERIES

    df = QUERIES["minhash_signatures"](spark, SF)
    assert plan_of(df).count("Exchange") == 0
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5") <= 2, opt.count("md5")


def test_kernel_repartition_resists_aqe_coalescing(spark):
    """AQE coalesces shuffle partitions by BYTES, which serializes a
    small-bytes grouped kernel stage onto one task (measured: 12s
    single-task loess vs ~0.5s parallel at top_k=1000).
    ``kernel_repartition`` must pin the kernel's parallelism: the
    grouped applyInPandas downstream of it has to actually EXECUTE
    spread over ~2·cores+1 tasks, while the unpinned control collapses
    under AQE.  Executed task spread is observed directly via
    TaskContext.partitionId inside the kernel (post-AQE reality, not
    the static plan)."""
    import pandas as pd

    from tsforge_spark.operators.partitioning import kernel_repartition

    # small-bytes input (200 groups, ~5KB total) downstream of a real
    # shuffle, so AQE has an exchange it wants to coalesce
    base = (
        spark.range(2000)
        .select(
            (F.col("id") % 200).alias("gid"),
            (F.col("id") * 7 % 97).cast("double").alias("v"),
        )
        .groupBy("gid")
        .agg(F.sum("v").alias("v"))
    )

    def kernel(key, pdf):
        from pyspark import TaskContext

        return pd.DataFrame(
            {"gid": [key[0]], "pid": [TaskContext.get().partitionId()]}
        )

    schema = "gid long, pid int"
    pinned = (
        kernel_repartition(base, "gid")
        .groupBy("gid")
        .applyInPandas(kernel, schema)
        .toPandas()
    )
    control = base.groupBy("gid").applyInPandas(kernel, schema).toPandas()
    cores = spark.sparkContext.defaultParallelism
    n_pinned = pinned["pid"].nunique()
    n_control = control["pid"].nunique()
    # the pin must give at least one task per core (target 2·cores+1)
    assert n_pinned >= cores, (n_pinned, cores)
    # and the grouping must REUSE the pinned partitioning — no second
    # shuffle between the repartition and the kernel
    plan = plan_of(
        kernel_repartition(base, "gid").groupBy("gid").applyInPandas(kernel, schema)
    )
    assert n_shuffles(plan) == 2, plan  # base agg + kernel_repartition only
    # document the hazard the pin exists for: the unpinned control
    # must not out-parallelize the pinned kernel (AQE coalesces it)
    assert n_control <= n_pinned, (n_control, n_pinned)


def test_engine_sessions_pin_utc(spark):
    """The engine contract is UTC microseconds end-to-end.  The source
    parquet stores NAIVE µs timestamps, and Spark interprets a naive
    scan value in SESSION-local time — so under a non-UTC session every
    bucket instant genuinely shifts (verified: rollup_minute buckets
    move by the session offset).  The defense is the session factory:
    every `get_spark` session must pin spark.sql.session.timeZone=UTC
    regardless of ambient TZ, and that pin is what keeps all 50 catalog
    queries bitwise-equal to the DuckDB oracle (which reads the same
    naive values).  (Operator-level timezone SUPPORT — fill_gaps(tz=…)
    grids under DST and :30-phase zones — is probed in test_gapfill.)"""
    from tsforge_spark.session import ENGINE_CONFS

    assert ENGINE_CONFS["spark.sql.session.timeZone"] == "UTC"
    # and the live engine session (conftest's get_spark) carries it
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.parametrize("entry", ["loess", "interp", "tsfeat"])
def test_kernel_exchange_survives_planner(spark, entry):
    """Pins round 6's biggest perf fix against Spark-version drift:
    the three grouped-kernel entry points (loess STL, pandas
    interpolation, ts-features battery) each route through
    ``kernel_repartition``, whose 2·cores+1 hash exchange must SURVIVE
    into the final physical plan — i.e. EnsureRequirements did not
    remove it as redundant (the ODD count can never equal a
    conf-derived partition count) and it is user-numbered
    (REPARTITION_BY_NUM), which is what exempts it from AQE's
    bytes-based coalescing.  If either property drifts, the
    small-bytes kernel-fleet serialization hazard (12s single-task vs
    0.5s parallel, see operators/partitioning.py) silently returns."""
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").alias("gid"), F.col("ts"), F.col("value")
    )
    if entry == "loess":
        from tsforge_spark.operators.stl_loess import stl_decompose_loess

        plan_df = stl_decompose_loess(
            ev.groupBy("gid", F.date_trunc("hour", "ts").alias("bucket"))
            .agg(F.sum("value").alias("v")),
            "gid", "bucket", "v", period=24,
        )
    elif entry == "interp":
        from tsforge_spark.operators.gapfill import _interp_udf

        plan_df = _interp_udf(ev, "value", "gid", "ts", "pandas")
    else:
        from tsforge_spark.operators.sessions import ts_features

        plan_df = ts_features(ev, "gid", "ts", "value")
    n = 2 * spark.sparkContext.defaultParallelism + 1
    plan = plan_of(plan_df)
    assert f"hashpartitioning(gid" in plan, plan
    # the explicit 2·cores+1 count is present on a surviving exchange
    assert f", {n}), REPARTITION_BY_NUM" in plan, (n, plan)


def test_warm_start_runs_and_returns_duration(spark):
    """session.warm_start is the query-service startup posture (absorb
    first-execution machinery before serving).  Pin the API: runs on a
    live session, returns the seconds it spent, session still works."""
    from tsforge_spark.session import warm_start

    dt = warm_start(spark, tiny_parquet=f"{SF}/region.parquet")
    assert isinstance(dt, float) and dt >= 0.0
    assert spark.range(3).count() == 3
    # a missing warm-up file is tolerated
    dt = warm_start(spark, tiny_parquet=f"{SF}/no_such_table.parquet")
    assert isinstance(dt, float) and dt >= 0.0
