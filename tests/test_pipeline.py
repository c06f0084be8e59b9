"""End-to-end pipeline: full run, blob round-trip vs tier tables,
incremental late-data re-fold vs full recompute, resumability, lineage."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsforge_spark.codec.blobs import decode_blobs, encode_tier_blobs
from tsforge_spark.fixtures import make_late_batch, make_transcripts, transcripts_to_spark
from tsforge_spark.operators.rollup import rollup_transcripts
from tsforge_spark.plans.pipeline import RollupPipeline
from tsforge_spark.sources.snapshots import SnapshotStore


def _tier_norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["conv_id", "bucket"], kind="mergesort")
        .reset_index(drop=True)
        .astype({"turns": "int64", "tool_calls": "int64"})
    )


@pytest.fixture(scope="module")
def base_pdf():
    return make_transcripts(n_convs=40, seed=7)


def test_blob_roundtrip_matches_tier(spark, transcripts):
    t1m = rollup_transcripts(transcripts, "1m")
    blobs = encode_tier_blobs(t1m, "1m")
    decoded = decode_blobs(blobs)
    got = (
        decoded.groupBy("conv_id", "bucket")
        .pivot("measure", ["turns", "tool_calls"])
        .sum("value")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        t1m.select("conv_id", "bucket", "turns", "tool_calls")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    assert (got["turns"].to_numpy() == want["turns"].to_numpy()).all()
    assert (got["tool_calls"].to_numpy() == want["tool_calls"].to_numpy()).all()
    # compression must actually compress on regular tier data
    stats = blobs.selectExpr(
        "sum(raw_bytes) raw", "sum(blob_bytes) enc"
    ).collect()[0]
    assert stats["enc"] < stats["raw"]


def test_full_run_and_incremental_refold(spark, base_pdf, tmp_path):
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base_pdf))

    # blob_conv_prune_limit ON here so the conv-pruned blob path (encode
    # delta convs only + carry untouched convs' blobs) is covered by the
    # strongest equality assertions below; other tests run the default
    # whole-chunk path
    pipe = RollupPipeline(
        spark, store, str(tmp_path / "out"), n_buckets=8,
        blob_conv_prune_limit=1000,
    )
    r1 = pipe.run()
    assert r1["status"] == "ok"
    assert r1["turns"] == len(base_pdf)

    # rerun with no new snapshots → no-op (resumable checkpoint)
    assert pipe.run()["status"] == "up-to-date"

    # late out-of-order batch lands as a second snapshot
    late = make_late_batch(base_pdf, seed=11)
    assert len(late) > 0
    store.append(transcripts_to_spark(spark, late))
    r2 = pipe.run()
    assert r2["status"] == "ok"
    assert r2["turns"] == len(late)

    # incremental result must equal a full recompute on all data
    all_pdf = pd.concat([base_pdf, late], ignore_index=True)
    full = RollupPipeline(
        spark,
        store,
        str(tmp_path / "out_full"),
        n_buckets=8,
        dedup_against_history=False,
    )
    # full pipeline consumes the same two snapshots in one go
    rf = full.run()
    assert rf["turns"] == len(all_pdf)

    for tier in ("1m", "1h", "1d"):
        inc = _tier_norm(pipe.read_tier(tier).toPandas())
        ful = _tier_norm(full.read_tier(tier).toPandas())
        pd.testing.assert_frame_equal(inc, ful)
        # blobs decode to the tier exactly, in both pipelines
        dec = (
            pipe.decoded_series(tier)
            .filter("measure = 'turns'")
            .toPandas()
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        assert (dec["value"].to_numpy() == inc["turns"].to_numpy()).all()

    # per-turn text equality invariant over the canonical turn store
    assert pipe.verify_text_equality(transcripts_to_spark(spark, all_pdf)) == 0

    # duplicate-snapshot safety: appending the same late batch again must
    # not change any tier (exactly-once dedup against history)
    store.append(transcripts_to_spark(spark, late))
    r3 = pipe.run()
    assert r3["turns"] == 0 or r3["status"] == "ok"
    inc2 = _tier_norm(pipe.read_tier("1m").toPandas())
    ful2 = _tier_norm(full.read_tier("1m").toPandas())
    pd.testing.assert_frame_equal(inc2, ful2)

    # lineage recorded per stage with bucket grain
    lin = spark.read.parquet(pipe.lineage_path).toPandas()
    assert (lin["stage"] == "ingest").any()
    assert lin["row_count"].sum() >= len(all_pdf)


def test_crash_recovery_heals_tiers(spark, tmp_path):
    """Simulate a crash between the turns-store append and the tier
    rebuild: the next run must heal the affected day partitions even
    though dedup reduces the replayed delta to zero new rows."""
    from pyspark.sql import functions as F

    from tsforge_spark.fixtures import make_transcripts, make_late_batch, transcripts_to_spark

    base = make_transcripts(n_convs=30, seed=21)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=8)
    assert pipe.run()["status"] == "ok"

    # second snapshot lands...
    late = make_late_batch(base, seed=22)
    store.append(transcripts_to_spark(spark, late))
    # ...and the "crashed" run only managed the prepare + turns append:
    delta = store.read(spark, after=1, upto=2)
    clean = pipe._prepare(delta)
    clean.withColumn("day", F.to_date("ts")).write.mode("append").partitionBy(
        "day"
    ).parquet(pipe.turns_path)
    # tiers are now stale w.r.t. the turns store; checkpoint still at 1.

    # recovery: the normal run replays snapshot 2; dedup yields 0 new
    # rows but the affected days are rebuilt from the turns store.
    r = pipe.run()
    assert r["status"] == "ok"
    assert r["turns"] == 0  # everything was already appended

    all_pdf = pd.concat([base, late], ignore_index=True)
    full = RollupPipeline(
        spark, store, str(tmp_path / "out_full"), n_buckets=8,
        dedup_against_history=False,
    )
    full.run()
    for tier in ("1m", "1h", "1d"):
        inc = _tier_norm(pipe.read_tier(tier).toPandas())
        ful = _tier_norm(full.read_tier(tier).toPandas())
        pd.testing.assert_frame_equal(inc, ful)
    assert pipe.verify_text_equality(transcripts_to_spark(spark, all_pdf)) == 0


def test_empty_and_null_only_deltas(spark, tmp_path):
    """A second snapshot containing only contract-violating rows (null
    keys / null ts) must yield an 'empty-delta' run that still advances
    the checkpoint, leaving tiers untouched."""
    from pyspark.sql import types as T

    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark
    from tsforge_spark.schema import TRANSCRIPT_SCHEMA

    base = make_transcripts(n_convs=20, seed=31)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"
    before = _tier_norm(pipe.read_tier("1h").toPandas())

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA]
    )
    nulls = pd.DataFrame(
        {
            "conv_id": [None, "c1", "c2"],
            "turn_idx": [1, None, 2],
            "role": ["user"] * 3,
            "text": ["x"] * 3,
            "tool": [None] * 3,
            "ts": [pd.Timestamp("2025-01-02"), pd.Timestamp("2025-01-02"), None],
        }
    )
    store.append(spark.createDataFrame(nulls, schema=nullable))
    r = pipe.run()
    # the only non-null-keyed day rows were dropped by dropna → the
    # prepared delta is empty for every usable row, but days from raw
    # delta may still trigger a heal; either way the run must succeed
    # idempotently and the checkpoint must advance
    assert r["status"] in ("ok", "empty-delta")
    assert pipe.run()["status"] == "up-to-date"
    after = _tier_norm(pipe.read_tier("1h").toPandas())
    pd.testing.assert_frame_equal(before, after)


def test_late_turn_in_prior_month_heals_blob_segment(spark, tmp_path):
    """1h/1d blobs chunk by MONTH: a late turn landing in a month before
    the base span must re-encode that month's blob segment so decoded
    series == tier content everywhere."""
    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark
    from tsforge_spark.schema import TRANSCRIPT_SCHEMA

    base = make_transcripts(n_convs=15, seed=33, start="2025-02-01", span_days=10)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"

    cid = base["conv_id"].iloc[0]
    max_idx = int(base[base["conv_id"] == cid]["turn_idx"].max())
    late = pd.DataFrame(
        {
            "conv_id": [cid] * 2,
            "turn_idx": [max_idx + 1, max_idx + 2],
            "role": ["user", "assistant"],
            "text": ["jan catch-up", "jan reply"],
            "tool": [None, "search"],
            "ts": [pd.Timestamp("2025-01-15 10:00:00"), pd.Timestamp("2025-01-15 10:05:00")],
        }
    )
    store.append(spark.createDataFrame(late, schema=TRANSCRIPT_SCHEMA))
    r = pipe.run()
    assert r["status"] == "ok" and r["turns"] == 2

    for tier in ("1h", "1d"):
        dec = (
            pipe.decoded_series(tier)
            .filter(F.col("measure") == "turns")
            .toPandas()
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        want = (
            pipe.read_tier(tier)
            .select("conv_id", "bucket", "turns")
            .toPandas()
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        assert len(dec) == len(want)
        assert (dec["value"].to_numpy() == want["turns"].to_numpy()).all()
    # the January segment exists in the blob store
    jan = pipe.read_blobs("1h").filter(
        F.col("segment") == pd.Timestamp("2025-01-01")
    )
    assert jan.count() > 0


def test_backfill_day_join_path_matches_literals(spark, tmp_path):
    """The broadcast semi-join day filter (the >200-affected-days
    backfill path) must produce the same tiers as the literal-isin path
    — forced via day_literal_limit=0."""
    from tsforge_spark.fixtures import make_transcripts, make_late_batch, transcripts_to_spark

    base = make_transcripts(n_convs=25, seed=51)
    late = make_late_batch(base, seed=52)

    outs = {}
    for name, limit in (("literal", 200), ("join", 0)):
        store = SnapshotStore(str(tmp_path / f"store_{name}"))
        store.append(transcripts_to_spark(spark, base))
        pipe = RollupPipeline(
            spark, store, str(tmp_path / f"out_{name}"), n_buckets=4,
            day_literal_limit=limit,
        )
        assert pipe.run()["status"] == "ok"
        store.append(transcripts_to_spark(spark, late))
        assert pipe.run()["status"] == "ok"
        outs[name] = {
            tier: _tier_norm(pipe.read_tier(tier).toPandas())
            for tier in ("1m", "1h", "1d")
        }
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(outs["literal"][tier], outs["join"][tier])


def test_read_series_serving_path(spark, tmp_path):
    """Blob-store serving read: time-range + conv-set query must equal
    the tier table over the same window, while planning only the
    relevant (tier_part, seg_day) partitions."""
    from tsforge_spark.codec.blobs import read_series
    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark

    base = make_transcripts(n_convs=25, seed=61)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"

    t0 = base["ts"].min().floor("h") + pd.Timedelta(days=2)
    t1 = t0 + pd.Timedelta(days=3)
    convs = sorted(base["conv_id"].unique())[:5]
    got = (
        read_series(
            spark, pipe.blobs_path, "1h", t0, t1,
            conv_ids=convs, measures=("turns",),
        )
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        pipe.read_tier("1h")
        .filter(
            F.col("conv_id").isin(convs)
            & (F.col("bucket") >= F.lit(t0.to_pydatetime()))
            & (F.col("bucket") <= F.lit(t1.to_pydatetime()))
        )
        .select("conv_id", "bucket", "turns")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(want) > 0
    assert (got["value"].to_numpy() == want["turns"].to_numpy()).all()
    # partition pruning visible in the plan: the scan's PartitionFilters
    # entry must actually carry both partition columns
    pruned = spark.read.parquet(pipe.blobs_path).filter(
        (F.col("tier_part") == "1h") & (F.col("seg_day") >= t0.date())
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "tier_part" in pf[0] and "seg_day" in pf[0], pf[0]


def test_retention_enforcement(spark, tmp_path):
    """Retention policy drops only fully-expired day partitions (and
    only fully-expired blob segments), leaves newer data bit-identical,
    and keeps tiers with policy None untouched."""
    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark

    base = make_transcripts(n_convs=20, seed=71, span_days=14)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"

    newest = pipe.read_tier("1m").agg(F.max(F.to_date("bucket"))).collect()[0][0]
    keep_1m = (
        pipe.read_tier("1m")
        .filter(F.to_date("bucket") >= F.lit(newest - pd.Timedelta(days=7).to_pytimedelta()))
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    before_1d = _tier_norm(pipe.read_tier("1d").toPandas())

    dry = pipe.enforce_retention({"1m": 7, "1h": 7, "1d": None}, dry_run=True)
    assert dry["deleted"]["1m"]  # something would expire
    # dry run deleted nothing
    assert len(_tier_norm(pipe.read_tier("1d").toPandas())) == len(before_1d)

    res = pipe.enforce_retention({"1m": 7, "1h": 7, "1d": None})
    assert res["status"] == "ok" and res["deleted"]["1m"]

    after_1m = (
        pipe.read_tier("1m").toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    )
    # all remaining rows are within the window, and the retained window
    # is bit-identical to what was there before
    assert (pd.to_datetime(after_1m["bucket"]).dt.date >= newest - pd.Timedelta(days=7).to_pytimedelta()).all()
    pd.testing.assert_frame_equal(after_1m[keep_1m.columns], keep_1m)
    # 1d untouched by the None policy
    pd.testing.assert_frame_equal(_tier_norm(pipe.read_tier("1d").toPandas()), before_1d)
    # expired 1m blob segments gone; decoded blobs still equal the tier
    dec = (
        pipe.decoded_series("1m")
        .filter(F.col("measure") == "turns")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    assert len(dec) == len(after_1m)
    assert (dec["value"].to_numpy() == after_1m["turns"].to_numpy()).all()
    # 1h month segment straddles the cutoff (14-day span, 7-day policy):
    # the PARTIALLY-expired segment must be re-encoded from surviving
    # tier rows, so blob serving never trails the tier tables
    assert res["reencoded"]["1h"], res
    after_1h = (
        pipe.read_tier("1h")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    dec_1h = (
        pipe.decoded_series("1h")
        .filter(F.col("measure") == "turns")
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    assert len(dec_1h) == len(after_1h)
    assert (dec_1h["value"].to_numpy() == after_1h["turns"].to_numpy()).all()


def test_compact_turns_store(spark, tmp_path):
    """After several incremental appends, compaction must cut file
    counts while leaving content and the text-equality invariant
    bit-identical."""
    from tsforge_spark.fixtures import make_transcripts, make_late_batch, transcripts_to_spark

    base = make_transcripts(n_convs=20, seed=91)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"
    batches = [base]
    for seed in (92, 93, 94):
        late = make_late_batch(base, seed=seed)
        batches.append(late)
        store.append(transcripts_to_spark(spark, late))
        assert pipe.run()["status"] == "ok"

    before = (
        spark.read.parquet(pipe.turns_path)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    res = pipe.compact_turns()
    assert res["files_after"] < res["files_before"]
    after = (
        spark.read.parquet(pipe.turns_path)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pd.testing.assert_frame_equal(before[cols], after[cols])
    all_pdf = pd.concat(batches, ignore_index=True)
    assert pipe.verify_text_equality(transcripts_to_spark(spark, all_pdf)) == 0
    # a rebuild from the compacted store still matches the tiers
    r = pipe.run()
    assert r["status"] in ("up-to-date",)


def test_history_dedup_scope_full_catches_ts_rewrites(spark, tmp_path):
    """A duplicate (conv_id, turn_idx) re-delivered with a DIFFERENT ts
    lands on another day partition, outside the affected-days prune.
    scope='full' must still drop it (exactly-once under ts rewrites);
    the default scope documents ts-immutability as an input contract."""
    import pandas as pd

    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark

    base = make_transcripts(n_convs=10, seed=5, span_days=6)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(
        spark,
        store,
        str(tmp_path / "out"),
        n_buckets=4,
        history_dedup_scope="full",
    )
    r1 = pipe.run()
    assert r1["turns"] == len(base)

    # re-deliver 5 existing keys with ts shifted far into another day
    dup = base.head(5).copy()
    dup["ts"] = dup["ts"] + pd.Timedelta(days=30)
    store.append(transcripts_to_spark(spark, dup))
    r2 = pipe.run()
    assert r2["turns"] == 0  # every re-delivered key dropped
    # the turns store holds exactly the original rows
    assert pipe.verify_text_equality(transcripts_to_spark(spark, base)) == 0


def test_unique_key_check_trust_matches_probe(spark, tmp_path):
    """On contract-clean input the 'trust' mode (no in-delta dup probe)
    produces byte-identical tiers to the default probe mode."""
    from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark

    base = make_transcripts(n_convs=12, seed=91, span_days=5)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    a = RollupPipeline(spark, store, str(tmp_path / "a"), n_buckets=4)
    b = RollupPipeline(
        spark, store, str(tmp_path / "b"), n_buckets=4,
        unique_key_check="trust",
    )
    ra, rb = a.run(), b.run()
    assert ra["turns"] == rb["turns"] == len(base)
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _tier_norm(a.read_tier(tier).toPandas()),
            _tier_norm(b.read_tier(tier).toPandas()),
        )


def test_interrupted_blob_swap_heals_and_keeps_carried_blobs(
    spark, tmp_path
):
    """Crash between the two renames of the blob partition swap leaves
    the old partition under ``.trash_<sub>`` with the live dir missing.
    The next run must (a) restore it before the conv-pruned carried read
    — otherwise untouched conversations' blobs would silently vanish —
    and (b) converge to the same blobs as a full recompute."""
    import os
    import shutil

    base = make_transcripts(n_convs=30, seed=31)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(
        spark, store, str(tmp_path / "out"), n_buckets=8,
        blob_conv_prune_limit=1000,
    )
    assert pipe.run()["status"] == "ok"

    # simulate the crash: one 1h seg_day partition renamed to trash, the
    # live dir gone (interrupted between os.replace #1 and #2)
    tier_dir = os.path.join(pipe.blobs_path, "tier_part=1h")
    subs = sorted(
        s for s in os.listdir(tier_dir) if s.startswith("seg_day=")
    )
    assert subs
    victim = subs[0]
    os.replace(
        os.path.join(tier_dir, victim),
        os.path.join(tier_dir, f".trash_{victim}"),
    )
    assert not os.path.isdir(os.path.join(tier_dir, victim))

    # a late batch arrives; the incremental run takes the conv-pruned
    # carried path over the (healed) blob store
    late = make_late_batch(base, seed=32)
    store.append(transcripts_to_spark(spark, late))
    assert pipe.run()["status"] == "ok"
    assert not any(
        s.startswith(".trash_") for s in os.listdir(tier_dir)
    )

    full = RollupPipeline(
        spark, store, str(tmp_path / "out_full"), n_buckets=8,
        dedup_against_history=False,
    )
    full.run()
    for tier in ("1m", "1h", "1d"):
        inc = (
            pipe.decoded_series(tier)
            .filter("measure = 'turns'")
            .toPandas()
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        ful = (
            full.decoded_series(tier)
            .filter("measure = 'turns'")
            .toPandas()
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(inc, ful)

    # debris variant: a leftover trash dir WITH its live dir present is
    # post-install junk and must just be dropped
    src = os.path.join(tier_dir, subs[-1])
    shutil.copytree(src, os.path.join(tier_dir, f".trash_{subs[-1]}"))
    pipe._heal_interrupted_swaps(tier_dir)
    assert not any(
        s.startswith(".trash_") for s in os.listdir(tier_dir)
    )
    assert os.path.isdir(src)
