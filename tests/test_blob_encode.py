"""Blob encoding: the driver branch (a slice bounded to one Arrow batch)
and the Spark branch (``applyInPandas``) return the same blob rows; the
pipeline bounds each tier's slice from the tier footers, writes one file
per blob partition and launches few jobs on a small incremental run; the
engine's explicit read schemas equal the inferred ones; and a non-UTC
session is refused before anything is written."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsforge_spark.codec.blobs import (
    SEGMENT_TRUNC, encode_tier_blobs, encodes_on_driver,
)
from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark
from tsforge_spark.plans.pipeline import RollupPipeline
from tsforge_spark.schema import (
    TIER_READ_SCHEMA, TRANSCRIPT_SCHEMA, TURNS_READ_SCHEMA,
)
from tsforge_spark.sources.snapshots import SnapshotStore

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
DELTA_TURNS = 80


def _one_day_delta(base: pd.DataFrame, seed: int) -> pd.DataFrame:
    """``DELTA_TURNS`` rows on the day most conversations are active:
    late turns (new keys, earlier ``ts``) for three of them, topped up
    with re-delivered rows of the same day (same key, same ``ts``)."""
    rng = np.random.default_rng(seed)
    day_of = base["ts"].dt.strftime("%Y-%m-%d")
    day = base.groupby(day_of)["conv_id"].nunique().idxmax()
    on_day = base[day_of == day]
    convs = rng.choice(sorted(on_day["conv_id"].unique()), size=3, replace=False)
    late = []
    for c in convs:
        rows = on_day[on_day["conv_id"] == c]
        top = int(base.loc[base["conv_id"] == c, "turn_idx"].max())
        n = min(10, len(rows))
        pick = rows.sample(n=n, random_state=seed).copy()
        pick["turn_idx"] = np.arange(top + 1, top + 1 + n, dtype=pick["turn_idx"].dtype)
        pick["ts"] = pick["ts"] - pd.Timedelta(seconds=1)
        late.append(pick)
    late = pd.concat(late, ignore_index=True)
    again = on_day.sample(n=DELTA_TURNS - len(late), random_state=seed)
    return pd.concat([late, again], ignore_index=True)


def _blob_files(blobs_path: str) -> dict[str, int]:
    out = {}
    for tier in sorted(os.listdir(blobs_path)):
        for part in sorted(os.listdir(os.path.join(blobs_path, tier))):
            path = os.path.join(blobs_path, tier, part)
            if os.path.isdir(path) and not part.startswith(("_", ".")):
                out[f"{tier}/{part}"] = sum(
                    f.endswith(".parquet") for f in os.listdir(path)
                )
    return out


def _last_blobs_entry(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "metrics.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    return [e for e in entries if e["stage"] == "blobs"][-1]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A first run over a month boundary, then an 80-turn one-day
    incremental run; records each run's result, job count and blob files
    per partition."""
    root = tmp_path_factory.mktemp("blob_encode")
    base = make_transcripts(n_convs=40, seed=91, start="2025-01-20", span_days=16)
    store = SnapshotStore(str(root / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(root / "out"), n_buckets=4)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def counted_run() -> tuple[dict, int]:
        before = dag.numTotalJobs()
        res = pipe.run()
        return res, dag.numTotalJobs() - before

    res_first, jobs_first = counted_run()
    assert res_first["status"] == "ok"
    files_first = _blob_files(pipe.blobs_path)
    branch_first = _last_blobs_entry(pipe.out)["encode_branch"]

    store.append(transcripts_to_spark(spark, _one_day_delta(base, 92)))
    res_inc, jobs_inc = counted_run()
    assert res_inc["status"] == "ok" and res_inc["affected_days"] == 1
    return {
        "pipe": pipe, "root": root, "files_first": files_first,
        "files_inc": _blob_files(pipe.blobs_path),
        "res_first": res_first, "res_inc": res_inc,
        "jobs_first": jobs_first, "jobs_inc": jobs_inc,
        "branch_first": branch_first,
        "branch_inc": _last_blobs_entry(pipe.out)["encode_branch"],
    }


def _blob_rows(df) -> pd.DataFrame:
    pdf = df.select(
        "conv_id", F.unix_micros("segment").alias("seg_us"), "tier", "measure",
        "n_points", "raw_bytes", "blob_bytes", "blob",
    ).toPandas()
    pdf["blob"] = pdf["blob"].map(bytes)
    return pdf.sort_values(["conv_id", "seg_us", "measure"]).reset_index(drop=True)


def _slices(pipe):
    """Seeded tier slices: three 1m day segments, one 1h and one 1d month
    segment, an empty slice, and each coarse tier whole (every
    conversation, both month segments)."""
    rng = np.random.default_rng(23)
    out = []
    for tier in ("1m", "1h", "1d"):
        cells = pipe.read_tier(tier)
        seg = F.date_trunc(SEGMENT_TRUNC[tier], F.col("bucket"))
        segs = sorted(r[0] for r in cells.select(seg).distinct().collect())
        for s in rng.choice(len(segs), 3 if tier == "1m" else 1, replace=False):
            out.append((f"{tier} {segs[s]:%Y-%m-%d}", tier, cells.filter(seg == F.lit(segs[s]))))
        if tier != "1m":
            out.append((f"{tier} whole", tier, cells))
    out.append(("1h empty", "1h", pipe.read_tier("1h").filter(F.lit(False))))
    return out


def test_encode_branches_return_same_blob_rows(spark, built):
    pipe = built["pipe"]
    batch = int(spark.conf.get(BATCH_CONF))
    sizes = []
    for name, tier, cells in _slices(pipe):
        n = cells.count()
        assert n <= batch
        local = encode_tier_blobs(cells, tier, cells_hint=n)
        assert local.rdd.getNumPartitions() == 1, name
        got = _blob_rows(local)
        want = _blob_rows(encode_tier_blobs(cells, tier, cells_hint=None))
        pd.testing.assert_frame_equal(got, want, obj=name)
        sizes.append(len(got))
    assert sizes[-1] == 0 and min(sizes[:-1]) > 0, sizes
    # a whole coarse tier spans many conversations
    assert max(sizes) > 2 * 30, sizes


def test_encode_branch_rule(spark):
    batch = int(spark.conf.get(BATCH_CONF))
    assert encodes_on_driver(spark, 0)
    assert encodes_on_driver(spark, batch)
    assert not encodes_on_driver(spark, batch + 1)
    assert not encodes_on_driver(spark, None)


def test_pipeline_encodes_bounded_slices_on_driver(built):
    every = {"1m": "driver", "1h": "driver", "1d": "driver"}
    assert built["branch_first"] == every
    assert built["branch_inc"] == every


def test_one_file_per_blob_partition(built):
    for key in ("files_first", "files_inc"):
        files = built[key]
        assert {p.split("/")[0] for p in files} == {
            "tier_part=1m", "tier_part=1h", "tier_part=1d"
        }
        assert set(files.values()) == {1}, (key, files)


def test_small_incremental_run_job_count(built):
    """An 80-turn one-day incremental run: the explicit read schemas
    spare the schema-inference jobs and driver-side encodes replace
    each tier's exchange with a collect."""
    assert built["jobs_inc"] <= 19, built["jobs_inc"]


def test_first_run_job_count(built):
    assert built["jobs_first"] <= 17, built["jobs_first"]


def test_run_record(built):
    """Each path reports the same named stages (plus the write ∥ tier
    chain's shared wall on a first run) and logs one event per step."""
    stages = {"probe", "prepare", "tier_1m", "tier_fold", "blob_1m", "blobs"}
    with open(os.path.join(built["pipe"].out, "metrics.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    for res, want in (
        (built["res_first"], stages | {"overlap_wall"}),
        (built["res_inc"], stages),
    ):
        assert set(res["stage_sec"]) == want
        assert all(v >= 0 for v in res["stage_sec"].values()), res["stage_sec"]
        events = [e["stage"] for e in entries if e["job_id"] == res["job_id"]]
        assert events == ["ingest", "tier_1m", "tier_fold", "blobs", "done"]


def test_fold_error_waits_for_blob_jobs(built, monkeypatch):
    """A fold that raises re-raises only after the blob job running
    beside it has finished, so no job outlives the failed run."""
    pipe = built["pipe"]
    finished = threading.Event()

    def slow_blobs(*_args) -> int:
        time.sleep(0.5)
        finished.set()
        return 0

    def failing_merge(*_args) -> None:
        raise RuntimeError("fold failed")

    monkeypatch.setattr(pipe, "_encode_and_commit_blobs", slow_blobs)
    monkeypatch.setattr(pipe, "_merge_partitions", failing_merge)
    with pytest.raises(RuntimeError, match="fold failed"):
        pipe._fold_and_blobs(
            [dt.date(2025, 1, 25)], True, lambda _name: contextlib.nullcontext()
        )
    assert finished.is_set()


def test_spark_branch_in_pipeline_writes_same_blobs(spark, built, tmp_path):
    """With a batch bound below the 1m tier's size the pipeline encodes
    that tier through Spark, and the blob store comes out the same."""
    pipe = built["pipe"]
    store = SnapshotStore(str(built["root"] / "store"))
    prior = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "500")
    try:
        other = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=4)
        assert other.run()["status"] == "ok"
    finally:
        spark.conf.set(BATCH_CONF, prior)
    assert _last_blobs_entry(other.out)["encode_branch"]["1m"] == "spark"
    pd.testing.assert_frame_equal(
        _blob_rows(other.read_blobs()), _blob_rows(pipe.read_blobs())
    )


def test_explicit_read_schemas_match_inferred(spark, built):
    pipe = built["pipe"]
    store = pipe.store
    snap = os.path.join(store.path, store.snapshots()[0]["dir"])
    for schema, path in [
        (TIER_READ_SCHEMA, pipe.tier_path(t)) for t in ("1m", "1h", "1d")
    ] + [(TURNS_READ_SCHEMA, pipe.turns_path), (TRANSCRIPT_SCHEMA, snap)]:
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(schema).parquet(path).schema == inferred, path
    assert store.read(spark).schema == spark.read.parquet(snap).schema
    assert pipe.read_tier("1m").schema == (
        spark.read.parquet(pipe.tier_path("1m")).drop("day").schema
    )


def test_non_utc_session_is_refused(spark, tmp_path):
    """Under a non-UTC session the segment filters matched nothing and a
    run wrote no blobs while reporting ok; run() and enforce_retention()
    now refuse the session before writing anything."""
    base = make_transcripts(n_convs=20, seed=93, span_days=3)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    out = tmp_path / "out"
    pipe = RollupPipeline(spark, store, str(out), n_buckets=4)
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match=r"spark\.sql\.session\.timeZone"):
            pipe.run()
        with pytest.raises(ValueError, match=r"spark\.sql\.session\.timeZone"):
            pipe.enforce_retention({"1m": 1}, now=dt.date(2025, 1, 3))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert sorted(os.listdir(out)) == []
    assert pipe.checkpoint()["last_snapshot_id"] == 0
