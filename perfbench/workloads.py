"""The benchmark's workloads: ``build`` and ``refresh``.

Each workload has a ``setup`` (untimed set-up, reported as ``setup_s``),
a ``unit`` (one timed unit of work, repeated for the measured window), a
``check`` (untimed correctness checks) and, for traced runs, ``layers``
(calls into single layers made after the measured window).

Inputs come only from the seed: a transcript table of exactly
``Bench.turns`` rows drawn with the engine's fixture generator
(Pareto-sized conversations), and for ``refresh`` a late delta.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from checks import blob_sample, codec_kernels, frames_equal, tier_turn_sums, tiers_equal
from tsforge_spark.codec.blobs import decode_blobs, encode_tier_blobs, read_series
from tsforge_spark.fixtures import gen_transcript_batch, make_late_batch, transcripts_to_spark
from tsforge_spark.operators.rollup import fold_tier, rollup_transcripts
from tsforge_spark.plans.pipeline import RollupPipeline
from tsforge_spark.sources.snapshots import SnapshotStore
from tsforge_spark.streaming.stream import run_stream_to_parquet

# Pareto-sized conversations capped at 1,000 turns: ~230 conversations in
# 50k turns, within 3% of each other across seeds.  At the fixture's
# default cap of 5,000, half the turns sit in five conversations and the
# conversation count varies by 30% from seed to seed.
MAX_TURNS = 1_000
STREAM_FILES = 16
STREAM_WATERMARK_S = 600  # the default watermark of streaming_tier
PIPELINE_STAGES = (
    "probe", "prepare", "tier_1m", "tier_fold", "blob_1m", "blobs",
    "overlap_wall", "turns_store", "lineage",
)


def make_turns(seed: int, n_turns: int) -> pd.DataFrame:
    """Exactly ``n_turns`` seeded transcript rows: whole conversations
    from the fixture generator in id order, the last one cut short (a
    prefix of a conversation is itself a valid conversation)."""
    frames, total, cid = [], 0, 0
    while total < n_turns:
        frames.append(gen_transcript_batch(
            np.arange(cid, cid + 64), seed=seed, mean_turns=60, max_turns=MAX_TURNS
        ))
        total += len(frames[-1])
        cid += 64
    return pd.concat(frames, ignore_index=True).iloc[:n_turns].reset_index(drop=True)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def noop(df) -> None:
    """Run a frame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """State shared by the workloads; ``b`` is the running ``Bench``."""

    # untimed units before measuring: after one or two the JIT is still
    # compiling, and each further unit takes 5-10% less CPU than the last
    WARM_UNITS = 4

    def __init__(self, b):
        self.b = b
        self.spark = b.spark
        self.seed = b.seed
        self.work = b.work
        self.n_turns = b.turns
        self.latencies_ms: list[float] = []
        self.setup_parts: dict[str, float] = {}
        self.warm_units_done = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        """Untimed work before each unit."""

    def check(self) -> None:
        """Untimed correctness checks after the measured window."""

    def output_bytes(self) -> int:
        """Tier and blob bytes on disk after a unit."""
        return du(os.path.join(self.out, "tiers")) + du(os.path.join(self.out, "blobs"))

    def new_store(self, name: str) -> tuple[SnapshotStore, float]:
        """Generate the seeded input and append it as snapshot 1 of a
        fresh store; returns the store and the time taken."""
        t0 = time.perf_counter()
        self.pdf = make_turns(self.seed, self.n_turns)
        store = SnapshotStore(self.path(name))
        with self.b.tracer.span("sources.snapshots.append", spark_layer=True):
            store.append(transcripts_to_spark(self.spark, self.pdf))
        self.input_bytes = du(store.path)
        return store, time.perf_counter() - t0

    def pipeline(self, store: SnapshotStore, out: str) -> RollupPipeline:
        return RollupPipeline(self.spark, store, out, n_buckets=max(2 * self.b.cores, 16))

    def traced_run(self, pipe: RollupPipeline) -> dict:
        tr = self.b.tracer
        with tr.span("plans.pipeline.run", spark_layer=True):
            res = pipe.run()
        for stage in PIPELINE_STAGES:
            tr.record(f"plans.pipeline.{stage}_s", res["stage_sec"].get(stage, 0.0))
        return res

    def pipeline_layers(self, store: SnapshotStore, out: str) -> None:
        """Single-layer calls over a built output: snapshot scan, rollup
        and folds, the Spark-wrapped codec in both directions, and the
        numpy codec kernels alone on the same cells."""
        tr, spark = self.b.tracer, self.spark
        with tr.span("sources.snapshots.read", spark_layer=True):
            noop(store.read(spark))
        with tr.span("operators.rollup.rollup_1m", spark_layer=True):
            noop(rollup_transcripts(store.read(spark), "1m"))
        for finer, tier in (("1m", "1h"), ("1h", "1d")):
            cells = spark.read.parquet(os.path.join(out, "tiers", finer)).drop("day")
            with tr.span(f"operators.rollup.fold_{tier}", spark_layer=True):
                noop(fold_tier(cells, tier))
        blobs = None
        for tier in ("1m", "1h", "1d"):
            cells = spark.read.parquet(os.path.join(out, "tiers", tier)).drop("day")
            enc = encode_tier_blobs(cells, tier)
            blobs = enc if blobs is None else blobs.unionByName(enc)
        with tr.span("codec.blobs.encode", spark_layer=True):
            noop(blobs)
        with tr.span("codec.blobs.decode", spark_layer=True):
            noop(decode_blobs(spark.read.parquet(os.path.join(out, "blobs"))))
        k = codec_kernels(out)
        self.b.fail_if("codec kernels", k["problems"])
        tr.record("codec.gorilla.encode_kernel_s", k["encode_kernel_s"])
        tr.record("codec.gorilla.decode_kernel_s", k["decode_kernel_s"])
        tr.record("codec.gorilla.bytes_per_point", k["blob_bytes"] / k["points"])
        tr.record(
            "codec.blobs.encode_boundary_cpu_s",
            tr.last("codec.blobs.encode")["tree_cpu_s"] - k["encode_kernel_s"],
        )
        tr.record(
            "codec.blobs.decode_boundary_cpu_s",
            tr.last("codec.blobs.decode")["tree_cpu_s"] - k["decode_kernel_s"],
        )

    def stream_layer(self, store: SnapshotStore) -> None:
        """The watermarked 1m streaming tier (availableNow, RocksDB state,
        parquet sink) over the store's turns laid out in event-time
        order: one untimed drain, then a traced one, then a check that
        every window the watermark closed equals the batch 1m rollup."""
        from pyspark.sql import functions as F

        spark, tr = self.spark, self.b.tracer
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        ordered = SnapshotStore(self.path("stream_in"))
        ordered.append(store.read(spark).repartitionByRange(STREAM_FILES, "ts").sortWithinPartitions("ts"))
        in_path = os.path.join(ordered.path, ordered.snapshots()[0]["dir"])
        # the file source takes files oldest-modified first: stamp the
        # range-partitioned files so that order is event-time order and
        # no turn arrives behind the watermark
        parts = sorted(f for f in os.listdir(in_path) if f.endswith(".parquet"))
        base = time.time() - len(parts)
        for i, f in enumerate(parts):
            os.utime(os.path.join(in_path, f), (base + i, base + i))
        sink = self.path("stream_sink")
        for traced in (False, True):
            for d in (sink, self.path("stream_ckpt")):
                shutil.rmtree(d, ignore_errors=True)
            with tr.paused(not traced), tr.span("streaming.stream.drain", spark_layer=True):
                q = run_stream_to_parquet(spark, in_path, sink, self.path("stream_ckpt"), tier="1m")
                q.awaitTermination()
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        data = [p for p in progress if p["numInputRows"] > 0]
        tr.record("streaming.stream.batches", len(data))
        tr.record("streaming.stream.add_batch_ms_p50",
                  statistics.median(float(p["durationMs"]["addBatch"]) for p in data))
        state = progress[-1]["stateOperators"]
        tr.record("streaming.stream.state_rows", state[0]["numRowsTotal"] if state else 0)
        turns = store.read(spark)
        n_in = sum(int(p["numInputRows"]) for p in data)
        max_ts = turns.agg(F.max("ts")).first()[0]
        # windows ending at least a minute before the final watermark
        cutoff = max_ts - datetime.timedelta(seconds=STREAM_WATERMARK_S + 120)
        batch = rollup_transcripts(turns, "1m").filter(F.col("bucket") < F.lit(cutoff))
        closed = spark.read.parquet(sink).filter(F.col("bucket") < F.lit(cutoff)).select(*batch.columns)
        self.b.fail_if("stream vs batch rollup", (
            [f"stream read {n_in} turns of {self.stored_turns}"] if n_in != self.stored_turns else []
        ) + ([] if frames_equal(closed, batch) else ["closed windows differ"]))


class Build(Workload):
    """First-run ``RollupPipeline.run()`` into a fresh output directory."""

    def setup(self) -> None:
        self.store, self.setup_parts["inputs"] = self.new_store("store")
        self.out = self.path("out")
        self.turns_per_unit = self.stored_turns = self.n_turns

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def unit(self) -> None:
        t0 = time.perf_counter()
        res = self.traced_run(self.pipeline(self.store, self.out))
        wall = time.perf_counter() - t0
        self.latencies_ms.append(wall * 1e3)
        self.b.fail_if("build run", [] if res.get("turns") == self.n_turns else [f"run result {res}"])

    def check(self) -> None:
        self.b.fail_if("tier turn sums", tier_turn_sums(self.out, self.n_turns))
        self.b.fail_if("blob sample", blob_sample(self.out, self.seed))

    def layers(self) -> None:
        self.pipeline_layers(self.store, self.out)
        self.stream_layer(self.store)


class Refresh(Workload):
    """The day-2 loop: late delta → incremental run → retention →
    serving reads, each unit starting from the same built base."""

    DELTA_TURNS = 80
    REQUESTS_PER_KIND = 2
    # the warm unit set-up runs; with the base build and the recompute
    # check inside it, the pipeline has run three times before measuring
    WARM_UNITS = 1

    def setup(self) -> None:
        # the per-layer append is the delta's, so set-up appends go untraced
        with self.b.tracer.paused():
            self.base_store, self.setup_parts["inputs"] = self.new_store("base_store")
        self.base_out = self.path("base_out")
        t0 = time.perf_counter()
        self.pipeline(self.base_store, self.base_out).run()
        self.setup_parts["base_build"] = time.perf_counter() - t0
        self.store_dir, self.out = self.path("store"), self.path("out")
        days = sorted(d[4:] for d in os.listdir(os.path.join(self.base_out, "tiers", "1m")) if d.startswith("day="))
        # expire the oldest 1m day: cutoff = newest - max_age = oldest + 1
        first, last = np.datetime64(days[0]), np.datetime64(days[-1])
        self.policy = {"1m": int((last - first) / np.timedelta64(1, "D")) - 1, "1h": None, "1d": None}
        self.delta = self.make_delta(days[1:])
        self.delta_df = transcripts_to_spark(self.spark, self.delta)
        self.turns_per_unit = len(self.delta)
        self.stored_turns = self.n_turns + len(self.delta)
        self.requests = self.make_requests(days[1:])
        # the warm unit, with the untimed checks between its timed steps:
        # the recompute check needs the tiers before retention, and each
        # later serving request is checked against the expected counts
        self.prepare()
        with self.b.tracer.paused():
            t0 = time.perf_counter()
            pipe = self.ingest()
            warm = time.perf_counter() - t0
            self.check_recompute(pipe.store)
            t0 = time.perf_counter()
            pipe.enforce_retention(self.policy)
            warm += time.perf_counter() - t0
            self.expected_points()
            t0 = time.perf_counter()
            self.serve()
            self.setup_parts["warm_units"] = warm + time.perf_counter() - t0
        self.warm_units_done = 1

    def make_delta(self, days: list[str]) -> pd.DataFrame:
        """The late batch, all on one seeded day of ``days``: late turns
        with earlier ``ts`` for ~2% of the conversations (ones that lie
        within that day), topped up to ``DELTA_TURNS`` rows with
        re-delivered keys of the same day (same key, same ``ts``).  Every
        seed's delta then has the same size and touches one 1m day."""
        rng = np.random.default_rng(self.seed)
        pdf = self.pdf
        day = pdf["ts"].dt.strftime("%Y-%m-%d")
        first_last = day.groupby(pdf["conv_id"]).agg(["min", "max"])
        within = first_last[first_last["min"] == first_last["max"]]["min"]
        n = max(2, round(0.02 * len(first_last)))
        candidates = [d for d in days if (within == d).sum() >= n]
        d = candidates[int(rng.integers(0, len(candidates)))]
        convs = rng.choice(sorted(within.index[within == d]), size=n, replace=False)
        late = make_late_batch(pdf[pdf["conv_id"].isin(convs)], seed=self.seed, frac=1.0)
        late = late.iloc[: self.DELTA_TURNS // 2]
        again = pdf[day == d].sample(n=self.DELTA_TURNS - len(late), random_state=self.seed)
        return pd.concat([late, again], ignore_index=True)

    def make_requests(self, days: list[str]) -> list[dict]:
        """The serving mix: 1m over one seeded day of the middle week for
        ten conversations active that day, 1m over that week, 1h and 1d
        over the full range, each kind ``REQUESTS_PER_KIND`` times, in
        seeded order."""
        rng = np.random.default_rng(self.seed + 1)
        day_of = self.pdf["ts"].dt.strftime("%Y-%m-%d")
        # the seven days in the middle of the span, where conversations are
        # as dense as anywhere: the days at its ends hold far fewer turns
        week = days[max(len(days) // 2 - 3, 0) :][:7]
        out = []
        for _ in range(self.REQUESTS_PER_KIND):
            d = week[int(rng.integers(0, len(week)))]
            active = sorted(self.pdf.loc[day_of == d, "conv_id"].unique())
            convs = [str(c) for c in rng.choice(active, size=min(10, len(active)), replace=False)]
            out += [
                {"tier": "1m", "t0": d, "t1": f"{d} 23:59:59", "conv_ids": convs},
                {"tier": "1m", "t0": week[0], "t1": f"{week[-1]} 23:59:59"},
                {"tier": "1h", "t0": days[0], "t1": f"{days[-1]} 23:59:59"},
                {"tier": "1d", "t0": days[0], "t1": f"{days[-1]} 23:59:59"},
            ]
        order = rng.permutation(len(out))
        return [out[i] for i in order]

    def expected_points(self) -> None:
        """Points each request must return: the tier cells in its range
        (after retention) times the two measures."""
        from pyspark.sql import functions as F

        for r in self.requests:
            cells = self.spark.read.parquet(os.path.join(self.out, "tiers", r["tier"])).filter(
                (F.col("bucket") >= F.lit(pd.Timestamp(r["t0"]).to_pydatetime()))
                & (F.col("bucket") <= F.lit(pd.Timestamp(r["t1"]).to_pydatetime()))
            )
            if r.get("conv_ids") is not None:
                cells = cells.filter(F.col("conv_id").isin(r["conv_ids"]))
            r["expect"] = 2 * cells.count()

    def prepare(self) -> None:
        for d in (self.store_dir, self.out):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base_store.path, self.store_dir)
        shutil.copytree(self.base_out, self.out)

    def ingest(self) -> RollupPipeline:
        store = SnapshotStore(self.store_dir)
        with self.b.tracer.span("sources.snapshots.append", spark_layer=True):
            store.append(self.delta_df)
        pipe = self.pipeline(store, self.out)
        self.traced_run(pipe)
        return pipe

    def unit(self) -> None:
        pipe = self.ingest()
        with self.b.tracer.span("plans.pipeline.retention"):
            pipe.enforce_retention(self.policy)
        served = self.serve()
        self.b.tracer.record("codec.blobs.decode_rows_per_s", served["points"] / served["serve_s"])

    def serve(self) -> dict:
        """One client, closed loop: each request is sent when the last
        one has returned its points."""
        points, serve_s = 0, 0.0
        for r in self.requests:
            t0 = time.perf_counter()
            try:
                with self.b.tracer.span("codec.blobs.read_series", spark_layer=True):
                    n = len(read_series(self.spark, os.path.join(self.out, "blobs"), r["tier"],
                                        r["t0"], r["t1"], conv_ids=r.get("conv_ids")).toPandas())
                ok = n == r.get("expect", n)
            except Exception as e:  # noqa: BLE001 — a failed request is counted, the loop goes on
                self.b.log(f"read_series failed: {e!r}")
                ok, n = False, 0
            dt = time.perf_counter() - t0
            serve_s += dt
            points += n
            self.b.count_op(ok, f"read_series {r['tier']} returned {n} points, expected {r.get('expect')}")
            self.latencies_ms.append(dt * 1e3 if ok else float("inf"))
        return {"points": points, "serve_s": serve_s}

    def check_recompute(self, store: SnapshotStore) -> None:
        """After the incremental run, every tier equals a full recompute
        over the combined snapshots."""
        full_out = self.path("recompute")
        shutil.rmtree(full_out, ignore_errors=True)
        full = self.pipeline(store, full_out)
        full.run()
        self.b.fail_if("incremental vs full recompute", tiers_equal(self.out, full_out))
        shutil.rmtree(full_out)

    def layers(self) -> None:
        self.pipeline_layers(SnapshotStore(self.store_dir), self.out)


WORKLOADS = {"build": Build, "refresh": Refresh}
