"""``read_series``: the driver-side branch (pruned files fit the decode
budget) and the Spark branch (``mapInPandas``) return the same rows, and
those rows are exactly the tier cells in range; a small read runs no
Spark job until it is acted on; buckets stay exact under a non-UTC
session time zone."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsforge_spark.codec.blobs import BLOB_READ_SCHEMA, read_series
from tsforge_spark.fixtures import make_transcripts, transcripts_to_spark
from tsforge_spark.plans.pipeline import RollupPipeline
from tsforge_spark.sources.snapshots import SnapshotStore

MEASURES = ("turns", "tool_calls")
# any budget below the smallest pruned file routes a read to Spark
FORCE_SPARK = "1"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A built output spanning a month boundary (two 1h/1d segments),
    its tier cells as UTC-µs frames, and a blob store without a 1d tier."""
    root = tmp_path_factory.mktemp("read_series")
    base = make_transcripts(n_convs=30, seed=83, start="2025-01-22", span_days=16)
    store = SnapshotStore(str(root / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(root / "out"), n_buckets=4)
    assert pipe.run()["status"] == "ok"
    cells = {
        tier: pipe.read_tier(tier)
        .select("conv_id", F.unix_micros("bucket").alias("us"), *MEASURES)
        .toPandas()
        for tier in ("1m", "1h", "1d")
    }
    no_1d = str(root / "blobs_no_1d")
    shutil.copytree(pipe.blobs_path, no_1d)
    shutil.rmtree(f"{no_1d}/tier_part=1d")
    return {"pipe": pipe, "cells": cells, "no_1d": no_1d,
            "convs": sorted(base["conv_id"].unique())}


def _budget(monkeypatch, cap) -> None:
    """Set the decode budget: ``None`` keeps the default."""
    if cap is None:
        monkeypatch.delenv("TSF_DECODE_CHUNK_BYTES", raising=False)
    else:
        monkeypatch.setenv("TSF_DECODE_CHUNK_BYTES", cap)


def _rows(df) -> pd.DataFrame:
    """Decoded points as plain sorted rows, buckets as UTC µs (free of
    the session time zone)."""
    pdf = df.select(
        "conv_id", "measure", F.unix_micros("bucket").alias("us"), "value"
    ).toPandas()
    return pdf.sort_values(["conv_id", "measure", "us"]).reset_index(drop=True)


def _expected(cells, t0, t1, conv_ids, measures) -> pd.DataFrame:
    lo, hi = (pd.Timestamp(t, tz="UTC").value // 1000 for t in (t0, t1))
    c = cells[(cells["us"] >= lo) & (cells["us"] <= hi)]
    if conv_ids is not None:
        c = c[c["conv_id"].isin(conv_ids)]
    long = [
        c[["conv_id", "us"]].assign(measure=m, value=c[m].astype("float64"))
        for m in (measures or MEASURES)
    ]
    out = pd.concat(long, ignore_index=True)[["conv_id", "measure", "us", "value"]]
    return out.sort_values(["conv_id", "measure", "us"]).reset_index(drop=True)


def _cases(convs):
    """Seeded random ranges per tier with bounds in the middle of a
    segment (edge segments decode fully and are trimmed), with and
    without conv / measure filters, plus two empty ranges per tier: one
    before the data, one inverted inside it."""
    rng = np.random.default_rng(17)
    lo, span = pd.Timestamp("2025-01-22"), 16 * 86400
    out = []
    for tier in ("1m", "1h", "1d"):
        for i in range(3):
            a, b = np.sort(rng.integers(0, span, 2))
            t0 = lo + pd.Timedelta(seconds=int(a))
            t1 = lo + pd.Timedelta(seconds=int(b)) + pd.Timedelta(hours=30)
            conv_ids = (
                None if i == 0
                else [str(c) for c in rng.choice(convs, 6, replace=False)]
            )
            measures = ("tool_calls",) if i == 2 else None
            out.append((tier, t0, t1, conv_ids, measures))
        out.append((tier, "2024-06-01", "2024-06-30 23:59:59", None, None))
        out.append((tier, "2025-01-29 13:00:00", "2025-01-29 12:00:00", None, None))
    return out


def test_read_series_branches_return_same_rows(spark, built, monkeypatch):
    pipe, cells = built["pipe"], built["cells"]
    sizes = []
    for case in _cases(built["convs"]):
        tier = case[0]
        want = _expected(cells[tier], *case[1:])
        _budget(monkeypatch, None)
        local = _rows(read_series(spark, pipe.blobs_path, *case))
        _budget(monkeypatch, FORCE_SPARK)
        remote = _rows(read_series(spark, pipe.blobs_path, *case))
        pd.testing.assert_frame_equal(local, remote, obj=str(case))
        pd.testing.assert_frame_equal(local, want, obj=str(case))
        sizes.append(len(want))
    # every random range holds points; the two extra ranges per tier none
    assert [n > 0 for n in sizes] == [True, True, True, False, False] * 3, sizes


def test_read_series_tier_without_blobs(spark, built, monkeypatch):
    for cap in (None, FORCE_SPARK):
        _budget(monkeypatch, cap)
        got = read_series(spark, built["no_1d"], "1d", "2025-01-01", "2025-03-01")
        assert got.count() == 0
        assert read_series(spark, built["no_1d"], "1h", "2025-01-01", "2025-03-01").count() > 0


def test_read_series_job_counts(spark, built, monkeypatch):
    """A small read builds its frame with no Spark job; the forced Spark
    branch, with an explicit blob schema, runs one job in toPandas."""
    pipe = built["pipe"]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    args = (spark, pipe.blobs_path, "1m", "2025-01-25", "2025-01-27 23:59:59")

    _budget(monkeypatch, None)
    before = dag.numTotalJobs()
    local = read_series(*args)
    assert dag.numTotalJobs() == before
    n_local = len(local.toPandas())
    assert n_local > 0

    _budget(monkeypatch, FORCE_SPARK)
    before = dag.numTotalJobs()
    remote = read_series(*args)
    assert dag.numTotalJobs() == before
    n_remote = len(remote.toPandas())
    assert dag.numTotalJobs() - before <= 1
    assert n_remote == n_local


def test_blob_read_schema_matches_inferred(spark, built):
    """The explicit blob-store schema is the one Spark would infer, so
    ``read_blobs`` returns the same columns and types as before."""
    pipe = built["pipe"]
    inferred = spark.read.parquet(pipe.blobs_path).schema
    assert pipe.read_blobs().schema == inferred
    assert [f.name for f in BLOB_READ_SCHEMA] == [f.name for f in inferred]
    assert pipe.read_blobs("1h").count() == (
        spark.read.parquet(pipe.blobs_path).filter(F.col("tier") == "1h").count()
    )


@pytest.mark.parametrize("cap", [None, FORCE_SPARK], ids=["local", "spark"])
def test_read_series_exact_under_new_york_session(spark, built, monkeypatch, cap):
    """Naive bounds are UTC instants and decoded buckets are instants:
    under an America/New_York session both branches, and
    ``decoded_series``, return the tier table's buckets and counts."""
    pipe, cells = built["pipe"], built["cells"]
    _budget(monkeypatch, cap)
    day = _expected(cells["1m"], "2025-01-29", "2025-01-29 23:59:59", None, None)
    convs = sorted(day["conv_id"].unique())[:10]
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for tier, t0, t1, conv_ids in (
            ("1m", "2025-01-29", "2025-01-29 23:59:59", convs),
            ("1m", "2025-01-26 04:30:00", "2025-01-28 21:15:00", None),
            ("1h", "2025-01-22", "2025-02-08 23:59:59", None),
            ("1d", "2025-01-22", "2025-02-08 23:59:59", convs),
        ):
            got = _rows(read_series(spark, pipe.blobs_path, tier, t0, t1, conv_ids))
            want = _expected(cells[tier], t0, t1, conv_ids, None)
            assert len(got) == len(want) > 0, (tier, t0, t1)
            pd.testing.assert_frame_equal(got, want)
        decoded = _rows(pipe.decoded_series("1h"))
        assert len(decoded) == 2 * len(cells["1h"])
        pd.testing.assert_frame_equal(
            decoded,
            _expected(cells["1h"], "2000-01-01", "2100-01-01", None, None),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
