"""End-to-end rollup pipeline: ingest → 1m/1h/1d tiers → Gorilla blobs,
incremental, resumable, with lineage + metrics.

Dataflow (``RollupPipeline.run``: a first-run and an incremental path
over the same stages):

  snapshot delta (SnapshotStore.read after checkpoint)
    → prepare: null-key drop, (conv_id, turn_idx) dedup (in-delta +
      against already-ingested turns of the affected days), hash-bucket
      repartition + sortWithinPartitions(conv_id, ts, turn_idx)   [§4.2.2]
    → canonical ordered turns store (partitioned by day; bucket_id and
      salt ride as data columns, each file holds every conversation as
      one contiguous (ts, turn_idx)-ordered run) — the per-turn
      text-equality invariant surface and the authoritative source for
      tier rebuilds
    → 1m tier: RECOMPUTE the affected day partitions from the turns
      store (partition-pruned scan; dynamic partition overwrite ≈
      Iceberg MERGE INTO)
    → 1h, 1d tiers: re-fold affected days from the finer tier (reads
      1/60th resp. 1/24th of the touched rows — continuous aggregates)
    → blobs: re-encode only the segment chunks holding an affected day
    → lineage rows (job, stage, snapshot range, bucket_id, rows, bytes)
      + per-stage metrics (jsonl) + checkpoint commit.

A late turn therefore invalidates exactly the 1m day-partitions it lands
in and their 1h/1d ancestors — nothing else is read or rewritten
(SURVEY.md §7.4.6); tests diff this against a full recompute.

Crash safety / idempotence: affected days derive from the RAW delta and
every stage is a recompute over those days, so replaying a snapshot
after a crash at ANY point (even after the turns append, when dedup
yields zero new rows) converges to the same tiers — verified by
tests/test_pipeline.py::test_crash_recovery_heals_tiers.  The checkpoint
only advances after all stages commit.

Scale notes: all tier stores are partitioned by event day so incremental
runs prune at the directory level; tier merges dynamic-overwrite only
touched partitions, and blob commits stage to a scratch dir then swap
touched partitions in by rename (on Iceberg this whole dance is one
``MERGE INTO`` with snapshot isolation).  The per-group encode kernel
is bounded by segment size, so hot conversations cannot straggle (see
codec/blobs.py).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsforge_spark.codec.blobs import (
    BLOB_READ_SCHEMA, SEGMENT_TRUNC, decode_blobs, encode_tier_blobs,
    encodes_on_driver, heal_interrupted_swaps,
)
from tsforge_spark.operators.rollup import fold_tier, rollup_transcripts
from tsforge_spark.plans.lineage import MetricsLog, append_lineage, new_job_id
from tsforge_spark.schema import TIER_READ_SCHEMA, TURNS_READ_SCHEMA
from tsforge_spark.sources.snapshots import SnapshotStore

TIERS = ["1m", "1h", "1d"]


def _segment_start(d: _dt.date, unit: str) -> _dt.datetime:
    """The start of the ``unit`` (day / month) segment holding day ``d``:
    the Python twin of Spark's ``date_trunc`` on a UTC date."""
    if unit == "month":
        d = d.replace(day=1)
    return _dt.datetime(d.year, d.month, d.day)


def _day_partitions(root: str, prefix: str = "day=") -> list:
    """Sorted ``(date, dir name)`` of the ``<prefix><iso date>``
    partition directories under ``root`` (none when it is missing)."""
    if not os.path.isdir(root):
        return []
    out = []
    for sub in os.listdir(root):
        if sub.startswith(prefix):
            try:
                out.append((_dt.date.fromisoformat(sub[len(prefix):]), sub))
            except ValueError:
                continue
    return sorted(out)


class _Prepared(NamedTuple):
    """What ``RollupPipeline._prepare`` found and built from a delta."""

    laid_out: DataFrame  # canonical turns-store layout, ready to write
    content: DataFrame  # content-final rows before layout (first-run 1m source)
    days: list | None  # affected days, when the day probe ran


class RollupPipeline:
    """The rollup engine over one snapshot store and one output dir.

    ``run()`` is a sequence of named, timed stages — ``probe``,
    ``prepare``, ``tier_1m``, ``tier_fold``, ``blob_1m``, ``blobs`` —
    taken by one of two paths: ``_run_first`` overlaps the turns-store
    write with the whole tier chain, ``_run_incremental`` stages the
    delta, appends it and recomputes the affected days.  Each run leaves
    a record in ``metrics.jsonl`` (``ingest``, ``tier_1m``,
    ``tier_fold``, ``blobs``, ``done``) and ingest lineage rows.
    ``enforce_retention`` expires old tier days and blob segments,
    ``compact_turns`` rewrites the turns store, and ``read_tier``,
    ``read_blobs`` and ``decoded_series`` serve the outputs.

    Three options: ``n_buckets`` (the turns store's hash buckets),
    ``history_dedup_scope`` and ``unique_key_check`` (see
    ``__init__``)."""

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        out_dir: str,
        n_buckets: int = 32,
        history_dedup_scope: str = "affected-days",
        unique_key_check: str = "probe",
    ):
        """``n_buckets`` is the number of ``xxhash64(conv_id)`` buckets
        of the turns-store layout and of its lineage rows.

        ``unique_key_check`` controls in-delta dedup verification:

        - ``"probe"`` (default): verify (conv_id, turn_idx) uniqueness
          with a key-hash probe every run; violations trigger a
          dropDuplicates pass.  Belt-and-suspenders over the input
          contract.
        - ``"trust"``: skip the probe and trust the contract (exactly
          the guarantee an upstream Iceberg writer with a unique-key
          constraint provides).  Dedup AGAINST HISTORY still runs — this
          only skips the within-delta re-verification.  If the contract
          is violated, duplicate rows land in the store and the
          text-equality verifier flags them.

        ``history_dedup_scope`` controls the exactly-once anti-join:

        - ``"affected-days"`` (default): history keys are pruned to the
          delta's affected day partitions.  This RELIES on the input
          contract that a re-delivered ``(conv_id, turn_idx)`` always
          carries the same ``ts`` (ts-immutability-per-key — true of
          append-only transcript logs, where a turn's timestamp is part
          of its identity).  A duplicate key re-delivered with a
          DIFFERENT ts would land on another day partition and bypass
          dedup.
        - ``"full"``: scan every history key (no day pruning) — exact
          under arbitrary ts rewrites, at the cost of a key scan that
          grows with total history size.  Use for feeds that can't
          promise ts immutability.
        """
        self.spark = spark
        self.store = store
        self.out = out_dir
        self.n_buckets = n_buckets
        if history_dedup_scope not in ("affected-days", "full"):
            raise ValueError(
                "history_dedup_scope must be 'affected-days' or 'full'"
            )
        self.history_dedup_scope = history_dedup_scope
        if unique_key_check not in ("probe", "trust"):
            raise ValueError("unique_key_check must be 'probe' or 'trust'")
        self.unique_key_check = unique_key_check
        os.makedirs(out_dir, exist_ok=True)

    # ---- paths ----
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.out, "tiers", tier)

    @property
    def turns_path(self) -> str:
        return os.path.join(self.out, "turns")

    @property
    def blobs_path(self) -> str:
        return os.path.join(self.out, "blobs")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.out, "lineage")

    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.out, "_checkpoint.json")

    def checkpoint(self) -> dict:
        if os.path.exists(self._ckpt_path):
            with open(self._ckpt_path) as f:
                return json.load(f)
        return {"last_snapshot_id": 0, "runs": 0}

    def _commit_checkpoint(self, ckpt: dict) -> None:
        tmp = self._ckpt_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ckpt, f, indent=1)
        os.replace(tmp, self._ckpt_path)

    def _require_utc_session(self) -> None:
        """Refuse a non-UTC session.  The engine's contract is UTC µs
        (``session.ENGINE_CONFS``): the stores hold naive timestamps,
        which Spark reads as session-local wall times, so under another
        zone segment filters match nothing and encoded buckets shift."""
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"spark.sql.session.timeZone is {tz!r}; RollupPipeline "
                "needs a UTC session (set spark.sql.session.timeZone=UTC)"
            )

    def _read_tier(self, tier: str) -> DataFrame:
        return self.spark.read.schema(TIER_READ_SCHEMA).parquet(
            self.tier_path(tier)
        )

    def _read_turns(self, path: str | None = None) -> DataFrame:
        return self.spark.read.schema(TURNS_READ_SCHEMA).parquet(
            path or self.turns_path
        )

    def _legacy_turns_days(self) -> list[str]:
        """Day partitions of the turns store still in the old
        ``day=/bucket_id=`` directory layout (one listing per day)."""
        if not os.path.isdir(self.turns_path):
            return []
        return sorted(
            sub
            for sub in os.listdir(self.turns_path)
            if sub.startswith("day=")
            and any(
                e.startswith("bucket_id=")
                for e in os.listdir(os.path.join(self.turns_path, sub))
            )
        )

    def _check_turns_layout(self) -> None:
        """Refuse a turns store still in the old ``day=/bucket_id=``
        layout: once a run appends day-level files beside ``bucket_id=``
        directories, Spark can no longer list the store.
        ``compact_turns()`` migrates it in place.  Also restores any day
        partition whose swap a crash interrupted inside
        ``compact_turns``."""
        heal_interrupted_swaps(self.turns_path)
        legacy = self._legacy_turns_days()
        if legacy:
            raise RuntimeError(
                f"turns store {self.turns_path} uses the old "
                f"day=/bucket_id= layout ({legacy[0]} holds bucket_id= "
                "directories); run RollupPipeline.compact_turns() once to "
                "migrate it to the day-only layout"
            )

    # ---- stages ----
    def _prepare(self, delta: DataFrame, need_days: bool = False) -> _Prepared:
        """Clean + dedup + canonical bucketed/ordered layout.

        Key-only probes run CONCURRENTLY (narrow column-pruned scans
        submitted from separate threads fill each other's idle task
        slots), and only when something consumes their output:

        - dedup verification on the 64-bit key hash (probe mode) —
          uniqueness of ``(conv_id, turn_idx)`` is the input contract,
          so the full-row ``dropDuplicates`` shuffle runs only when
          violations exist.  Hashing shrinks the probe shuffle to 8-byte
          keys; a hash collision can only cause a false *positive*
          verdict (an unnecessary dropDuplicates pass), never a wrong
          result.
        - the affected-day set (``need_days``: incremental runs).

        The salt needs no probe: ``skew.salted_layout`` derives it from
        ``turn_idx`` alone.  Per-bucket lineage counts ride the turns
        write itself (``_write_turns``).

        Affected days derive from the CLEAN (pre-dedup) delta: a row
        whose key columns are null never lands in any store, so its day
        needs no heal; rows dropped by DEDUP still contribute their days
        (the crash-replay anchor — a replayed snapshot whose rows were
        already ingested must still recompute the days it touched)."""
        from tsforge_spark.operators.skew import salted_layout

        clean = delta.dropna(subset=["conv_id", "turn_idx", "ts"])

        def _dup_probe() -> bool:
            return (
                clean.select(
                    F.xxhash64("conv_id", "turn_idx").alias("_h")
                )
                .groupBy("_h")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
                > 0
            )

        def _days_probe() -> list:
            # map-side distinct to a handful of day rows
            return [
                r["_d"]
                for r in clean.select(F.to_date("ts").alias("_d"))
                .distinct()
                .collect()
            ]

        has_dups, days = False, None
        if self.unique_key_check == "probe" or need_days:
            # FAIR scheduling interleaves the probes' tasks, so their
            # wall ≈ the slowest one
            with ThreadPoolExecutor(2) as ex:
                f_dup = (
                    ex.submit(_dup_probe)
                    if self.unique_key_check == "probe"
                    else None
                )
                f_days = ex.submit(_days_probe) if need_days else None
            has_dups = f_dup is not None and f_dup.result()
            days = f_days.result() if f_days is not None else None
        if has_dups:
            clean = clean.dropDuplicates(["conv_id", "turn_idx"])
        if os.path.isdir(self.turns_path):
            # exactly-once ingest: drop turns already processed.  The
            # turns store is day-partitioned; under the ts-immutability
            # contract (see __init__: history_dedup_scope) only the
            # delta's affected days can contain prior copies of its
            # keys, so the history scan partition-prunes to those days
            # instead of growing with total history size (Spark plans a
            # long day list as one INSET partition filter).  scope="full"
            # keeps the whole-history key scan for feeds that rewrite ts.
            # Files Spark hides (a killed write's ``_temporary`` debris)
            # read as no rows; any other read failure propagates.
            keys = self._read_turns()
            if days and self.history_dedup_scope == "affected-days":
                keys = keys.filter(F.col("day").isin(days))
            # The key alone decides a duplicate: bucket_id depends on
            # n_buckets, which may differ from the run that wrote history.
            clean = clean.join(
                keys.select("conv_id", "turn_idx"),
                ["conv_id", "turn_idx"],
                "left_anti",
            )
        # canonical layout: hash buckets + turn_idx block salt
        # (operators/skew.py) + stable (conv_id, ts, turn_idx) order.
        # text_len rides the store so tier rebuilds can column-prune the
        # text payload itself (the bulk of the store's bytes).
        # The store is written partitionBy("day"), so the layout sort
        # leads with day: the writer's required ordering is then a
        # satisfied prefix and the plan holds ONE sort, (day,
        # xxhash64(conv_id), conv_id, ts, turn_idx).  Without the prefix
        # the writer plans its own Sort [day] and the optimizer drops
        # the layout sort beneath it, so files lose per-conversation
        # contiguity and (ts, turn_idx) order.
        laid_out = salted_layout(
            clean.withColumn("text_len", F.length("text")).withColumn(
                "day", F.to_date("ts")
            ),
            key="conv_id",
            order_col="turn_idx",
            n_buckets=self.n_buckets,
            # day joins the exchange key: ~days× more distinct
            # partition values over the same partition count evens the
            # write wave out — see salted_layout's note.
            extra_partition_cols=("day",),
            sort_prefix=("day",),
        )
        return _Prepared(laid_out, clean, days)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.out, "_staging", name)

    def _merge_partitions(self, new_df: DataFrame, target: str) -> None:
        """Dynamic-overwrite only the ``day`` partitions present in
        ``new_df`` (Iceberg: MERGE INTO): the tier commits.  A direct
        write is safe because no tier merge reads its own target (the 1m
        tier derives from the turns store, 1h and 1d from the finer
        tier) — the only self-referential write in the pipeline is the
        ingest anti-join, which keeps its explicit staging
        materialization in ``_run_incremental``.  Blob commits go
        through ``_encode_and_commit_blobs`` instead.

        Crash semantics: new files land under the job's temporary dir and
        partition replacement happens at job commit, so a crash mid-write
        leaves old partitions readable; a crash mid-commit can leave a
        subset replaced — both are healed by the replay contract (the
        checkpoint only advances after all stages commit, and every stage
        is a full recompute of the affected day partitions).  The
        dynamic mode is a write option, so the caller's session keeps
        its own ``partitionOverwriteMode``."""
        new_df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day").parquet(target)

    def _write_turns(self, prepared: DataFrame, path: str) -> tuple[list, int]:
        """Write the laid-out turns ``partitionBy("day")`` to ``path`` and
        return ``(per-bucket row counts, total rows)`` for lineage.  The
        counts ride the write job as an observation (Iceberg: the
        commit's manifest statistics) — no readback job, no footer
        walk."""
        from pyspark.sql import Observation

        obs = Observation()
        prepared.observe(
            obs,
            *(
                F.count_if(F.col("bucket_id") == b).alias(str(b))
                for b in range(self.n_buckets)
            ),
        ).write.mode("overwrite").partitionBy("day").parquet(path)
        got = obs.get
        counts = [
            (b, int(got[str(b)]))
            for b in range(self.n_buckets)
            if got[str(b)]
        ]
        return counts, sum(c for _, c in counts)

    def _move_staged_files(self, staging: str, target: str) -> int:
        """Append staged day-partitioned files to ``target`` by moving
        them (same filesystem → rename), each with its ``.<name>.crc``
        checksum sidecar so later reads stay verified.  File names carry
        Spark's per-job UUID, so collisions with existing store files
        cannot occur.  Returns the number of data files moved."""
        moved = 0
        for sub in os.listdir(staging):
            if not sub.startswith("day="):
                continue
            root = os.path.join(staging, sub)
            dst_dir = os.path.join(target, sub)
            os.makedirs(dst_dir, exist_ok=True)
            for f in os.listdir(root):
                if f.endswith(".parquet"):
                    for name in (f, f".{f}.crc"):
                        if os.path.exists(os.path.join(root, name)):
                            os.replace(
                                os.path.join(root, name), os.path.join(dst_dir, name)
                            )
                    moved += 1
        return moved

    def _replace_partitions_by_move(self, staging: str, target: str) -> None:
        """Dynamic-partition-overwrite via driver-side file moves: for
        each ``day=…`` partition dir in ``staging``, swap the matching
        target partition for the staged one (Iceberg: REPLACE PARTITIONS
        commit).  The swap is rename-to-trash — ``os.replace(dst,
        .trash_sub); os.replace(src, dst); rmtree(.trash_sub)`` — so the
        vulnerable window is two renames, not an unbounded rmtree, and a
        crash inside it leaves the old bytes intact under a dot-prefixed
        dir (invisible to Spark's file listing) that
        ``heal_interrupted_swaps`` restores on the next run.  A crash
        between partitions leaves a subset replaced — healed by the
        replay contract, identical to a crash mid-commit of a
        dynamic-overwrite write job.

        A concurrent serving reader's best-effort heal can 'restore'
        the trash dir back to ``dst`` inside our two-rename window,
        which would make the install rename fail (dst reappeared,
        non-empty) — so the install retries the trash+install pair
        with a small linear backoff (a tight spin maximizes
        re-collision with a persistently interleaving reader).  If
        every attempt fails AFTER dst was already trashed, the old
        partition is restored (``os.replace(trash, dst)``) before the
        raise — the writer never exits leaving the partition missing
        until the next run's heal."""
        if not os.path.isdir(staging):
            return
        heal_interrupted_swaps(target)
        for sub in os.listdir(staging):
            if "=" not in sub:
                continue
            src = os.path.join(staging, sub)
            dst = os.path.join(target, sub)
            trash = os.path.join(target, f".trash_{sub}")
            os.makedirs(target, exist_ok=True)
            shutil.rmtree(trash, ignore_errors=True)
            for attempt in range(8):
                try:
                    if os.path.isdir(dst):
                        os.replace(dst, trash)
                    os.replace(src, dst)
                    break
                except OSError:
                    if attempt == 7:
                        # best-effort rollback: put the old partition
                        # back so readers see stale-but-complete data
                        # rather than a hole
                        if os.path.isdir(trash) and not os.path.isdir(dst):
                            try:
                                os.replace(trash, dst)
                            except OSError:
                                pass
                        raise
                    time.sleep(0.05 * (attempt + 1))
            shutil.rmtree(trash, ignore_errors=True)

    def _day_cells(self, tier: str, days) -> dict:
        """``{day: cells}`` for the ``day=`` partitions of ``tier`` in
        the segments holding ``days`` (for a month segment, every day of
        the month), counted from the parquet footers — driver-side
        metadata only, no Spark job (Iceberg: manifest stats)."""
        import pyarrow.parquet as pq

        unit = SEGMENT_TRUNC[tier]
        want = {_segment_start(d, unit) for d in days}
        out = {}
        for day, sub in _day_partitions(self.tier_path(tier)):
            if _segment_start(day, unit) not in want:
                continue
            part = os.path.join(self.tier_path(tier), sub)
            out[day] = sum(
                pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
                for f in os.listdir(part)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return out

    def _encode_and_commit_blobs(
        self, tier_cells: dict, staging_name: str, branches: dict
    ) -> int:
        """Re-encode the blob chunks (whole segments, every conversation)
        of ``tier_cells`` — ``{tier: day_cells}``, as ``_day_cells``
        lists them — and commit them: the one commit path into the blob
        store, for ``run()`` and ``enforce_retention`` alike.  Returns
        bytes written this call and records each tier's encode branch in
        ``branches``.

        All tiers in the group union into ONE write job (fewer
        fixed-cost job launches).  Each tier's slice is bounded by the
        footer cell count of the day partitions it can touch, which
        picks the encode branch (``encode_tier_blobs``): a slice that
        fits one Arrow batch encodes on the driver.  Bytes written ride
        the write job as an observation metric (Iceberg: commit manifest
        statistics); a readback scan would be a whole extra job.

        The group writes to its own staging dir and each ``seg_day``
        partition then swaps into ``tier_part=<tier>`` by rename
        (``_replace_partitions_by_move``), rather than a dynamic
        overwrite of the blob store:

        - blob groups commit concurrently (``_fold_and_blobs``), and
          writers sharing one output path would share its
          ``_temporary`` dir; with a staging dir each, a group only
          lists and mutates its own tiers' subtrees.
        - the blob store is the serving surface (``read_series``,
          ``read_blobs``).  A crash inside a swap leaves the old bytes
          under ``.trash_<sub>``, which ``heal_interrupted_swaps``
          restores before the next swap or serving read, so readers
          never see a missing partition between the crash and the
          replay that re-encodes it (for a retention re-encode, the
          next ``enforce_retention``, which heals each tier before it
          lists its segments)."""
        from pyspark.sql import Observation

        all_blobs = None
        for tier, day_cells in tier_cells.items():
            cells = self._read_tier(tier).filter(
                F.col("day").isin(sorted(day_cells))
            )
            hint = sum(day_cells.values())
            branches[tier] = (
                "driver" if encodes_on_driver(self.spark, hint) else "spark"
            )
            blobs = (
                encode_tier_blobs(cells.drop("day"), tier, cells_hint=hint)
                .withColumn("seg_day", F.to_date("segment"))
                .withColumn("tier_part", F.lit(tier))
            )
            all_blobs = blobs if all_blobs is None else all_blobs.unionByName(blobs)
        obs_blobs = Observation()
        all_blobs = all_blobs.observe(
            obs_blobs, F.sum("blob_bytes").alias("bytes")
        )
        blob_staging = self._stage_dir(staging_name)
        shutil.rmtree(blob_staging, ignore_errors=True)
        all_blobs.write.mode("overwrite").partitionBy(
            "tier_part", "seg_day"
        ).parquet(blob_staging)
        for tier in tier_cells:
            self._replace_partitions_by_move(
                os.path.join(blob_staging, f"tier_part={tier}"),
                os.path.join(self.blobs_path, f"tier_part={tier}"),
            )
        shutil.rmtree(blob_staging, ignore_errors=True)
        return int(obs_blobs.get["bytes"] or 0)

    def _fold_and_blobs(
        self, affected_days, first_run: bool, stage
    ) -> tuple[int, dict]:
        """Fold the committed 1m tier's affected days into 1h and 1d and
        re-encode their blobs; returns ``(blob bytes written, encode
        branch per tier)``.  Times ``tier_fold``, ``blob_1m`` and
        ``blobs`` under ``stage``.

        The 1m blobs (the bulk of the encode work — 60× the cells of 1h)
        depend on nothing the folds produce, so a second driver thread
        encodes and commits them while this one folds; FAIR scheduling
        interleaves the two jobs' tasks.  1h/1d blobs encode after their
        tiers commit.  Every group uses the same commit protocol, so a
        crash between two blob commits leaves some tiers' blobs stale,
        healed by the replay recompute like any mid-commit crash.

        Fold topology: 1d folds from the WRITTEN 1h partitions (a tiny
        read-back), not from the 1h plan — recomputing the 1h aggregate
        inside the 1d branch (or fusing both tiers into one GROUPING SETS
        job, which Expands every 1m cell twice) doubles the shuffled
        fine-cell volume; chained folds shuffle 1x fine cells + 1x hour
        cells, the minimum.

        Split granularity is adaptive: big (re)builds use the finest
        pipelining (1h blobs ∥ 1d fold — a third blob job whose launch
        cost is dwarfed by the encode), while small incremental deltas
        batch 1h+1d into one job — their encodes are tiny, so an extra
        job launch costs more than the overlap saves (A/B'd on the sf0.1
        daily delta)."""
        fine_split = first_run or len(affected_days) > 4
        branches: dict[str, str] = {}

        def blobs(tiers: list, name: str) -> int:
            return self._encode_and_commit_blobs(
                {t: self._day_cells(t, affected_days) for t in tiers},
                f"blobs_{name}",
                branches,
            )

        def blobs_1m() -> int:
            with stage("blob_1m"):
                return blobs(["1m"], "1m")

        # leaving the pool waits for every blob job, also when a fold or
        # another blob job raised
        with ThreadPoolExecutor(2) as pool:
            pending = [pool.submit(blobs_1m)]
            with stage("tier_fold"):
                for finer, tier in (("1m", "1h"), ("1h", "1d")):
                    cells = self._read_tier(finer).filter(
                        F.col("day").isin(affected_days)
                    )
                    upd = fold_tier(cells.drop("day"), tier).withColumn(
                        "day", F.to_date("bucket")
                    )
                    self._merge_partitions(upd, self.tier_path(tier))
                    if tier == "1h" and fine_split:
                        pending.append(pool.submit(blobs, ["1h"], "1h"))
            with stage("blobs"):
                written = sum(f.result() for f in pending)
                written += blobs(["1d"] if fine_split else ["1h", "1d"], "tail")
        return written, branches

    # ---- main entry ----
    def run(self) -> dict:
        """Process every snapshot after the checkpoint; no-op when
        up-to-date.  Returns the run record: turns, wall, turns/sec,
        blob bytes, ``stage_sec`` and ``stage_bytes``.

        A shared head probes and prepares the delta (``_prepare``); one
        of two paths ingests it and rebuilds the affected days' tiers
        and blobs — ``_run_first`` on an output with no turns store,
        ``_run_incremental`` otherwise; a shared tail logs the run and
        commits the checkpoint.  Every step runs under ``stage(name)``,
        which records its wall seconds in ``stage_sec``: ``probe``,
        ``prepare``, ``tier_1m``, ``tier_fold``, ``blob_1m`` and
        ``blobs``, plus ``overlap_wall`` on first runs, whose ``prepare``
        (the store write) and tier chain run concurrently.

        Affected event days derive from the PRE-dedup delta, so a crash
        replay (turns already appended, tiers not yet rebuilt) still
        knows which day partitions to heal even though dedup reduces the
        delta to zero rows: every step is an idempotent recompute over
        those days, and the checkpoint only advances after all of them
        commit."""
        t0 = time.time()
        self._require_utc_session()
        ckpt = self.checkpoint()
        last = self.store.last_snapshot_id()
        after = ckpt["last_snapshot_id"]
        if last <= after:
            return {"status": "up-to-date", "last_snapshot_id": after}
        job_id = new_job_id()
        metrics = MetricsLog(os.path.join(self.out, "metrics.jsonl"), job_id)
        stage_sec: dict[str, float] = {}

        @contextmanager
        def stage(name: str):
            start = time.time()
            yield
            stage_sec[name] = round(time.time() - start, 2)

        def ingested(counts: list, n_turns: int) -> None:
            metrics.log("ingest", rows=n_turns, snapshots=[after + 1, last])
            if n_turns > 0:
                # lineage at the hash-bucket grain, from the ingest
                # write's observation; written driver-side: ≤ n_buckets
                # tiny rows don't justify a Spark job's fixed cost
                append_lineage(
                    self.lineage_path, job_id, "ingest", last, counts,
                    detail=f"after={after}",
                )

        first_run = after == 0 and not os.path.exists(self.turns_path)
        with stage("probe"):
            self._check_turns_layout()
            delta = self.store.read(self.spark, after=after, upto=last)
            prep = self._prepare(delta, need_days=not first_run)
        path = self._run_first if first_run else self._run_incremental
        n_turns, days, blob_bytes, branches = path(prep, stage, ingested)
        if days:
            metrics.log("tier_1m", affected_days=len(days))
            metrics.log("tier_fold", tiers=["1h", "1d"])
            metrics.log(
                "blobs", blob_bytes_written=blob_bytes,
                encode_branch=dict(sorted(branches.items())),
            )
        shutil.rmtree(self._stage_dir("ingest"), ignore_errors=True)
        ckpt.update(last_snapshot_id=last, runs=ckpt["runs"] + 1)
        self._commit_checkpoint(ckpt)
        if not days:
            return {"status": "empty-delta", "turns": 0}
        wall = time.time() - t0
        result = {
            "status": "ok",
            "job_id": job_id,
            "turns": n_turns,
            "wall_sec": wall,
            "turns_per_sec": n_turns / wall,
            "blob_bytes": blob_bytes,
            "last_snapshot_id": last,
            "affected_days": len(days),
            "stage_sec": stage_sec,
            "stage_bytes": self._stage_bytes(blob_bytes),
        }
        metrics.log("done", **{k: v for k, v in result.items() if k != "status"})
        return result

    def _run_first(self, prep: _Prepared, stage, ingested) -> tuple:
        """First run: with no history there is no anti-join
        self-reference, so the turns-store write IS the materialization,
        and the 1m tier rolls up from the same content-final frame
        CONCURRENTLY — the write is IO-bound, the rollup CPU-bound, and
        FAIR scheduling interleaves their tasks.  The store content IS
        the prepared delta, so this is bit-identical to a rebuild from
        the store, which would have to wait for the write.  The folds
        and blobs chain behind the 1m merge in the same thread: they
        depend only on the committed 1m tier, so they overlap the
        write's tail too (measured at sf1.0: write 32 s, tier 19 s,
        folds+blobs ~11 s).  Row counts come from the
        write's observation, affected days from the partition dirs it
        created (Iceberg: the commit's manifest statistics).

        Returns ``(turns, affected days, blob bytes, encode branches)``."""

        def write() -> tuple[list, int]:
            with stage("prepare"):
                return self._write_turns(prep.laid_out, self.turns_path)

        def tiers() -> tuple[int, dict]:
            with stage("tier_1m"):
                upd = rollup_transcripts(
                    prep.content.select("conv_id", "role", "tool", "ts", "text"),
                    "1m",
                ).withColumn("day", F.to_date("bucket"))
                self._merge_partitions(upd, self.tier_path("1m"))
            # day = to_date(bucket) == to_date(ts): the tier's partition
            # dirs hold the same day set the store write creates
            days = [d for d, _ in _day_partitions(self.tier_path("1m"))]
            return self._fold_and_blobs(days, True, stage) if days else (0, {})

        # leaving the pool waits for both, also when one of them raised
        with stage("overlap_wall"), ThreadPoolExecutor(2) as pool:
            f_write, f_tiers = pool.submit(write), pool.submit(tiers)
        counts, n_turns = f_write.result()
        blob_bytes, branches = f_tiers.result()
        ingested(counts, n_turns)
        days = [d for d, _ in _day_partitions(self.turns_path)]
        return n_turns, days, blob_bytes, branches

    def _run_incremental(self, prep: _Prepared, stage, ingested) -> tuple:
        """Incremental run: ``_prepare`` anti-joins the turns store, so
        the prepared delta is materialized to immutable staging files
        FIRST — once the store is appended to, a lazy recomputation of
        the plan would see its own output and come out empty (on
        Iceberg, snapshot isolation of the MERGE does this for free).
        The staging is already day-partitioned and in final sort order,
        so the append is a driver-side file move (Iceberg: a fast-append
        commit), and exact post-anti-join row counts ride the staging
        write.  A crash mid-move leaves a subset appended, healed by the
        replay contract: dedup drops the moved rows and the affected-day
        recompute rebuilds the tiers.

        The 1m tier then RECOMPUTES the affected day partitions from the
        authoritative turns store (a day-partition pruned scan that never
        reads the text payload).  A full per-day recompute — rather than
        merging delta partials into old cells — makes every run
        idempotent: replaying the same snapshot (crash recovery,
        duplicate batch) converges to the same tiers.

        Returns ``(turns, affected days, blob bytes, encode branches)``."""
        staging = self._stage_dir("ingest")
        with stage("prepare"):
            shutil.rmtree(staging, ignore_errors=True)
            counts, n_turns = self._write_turns(prep.laid_out, staging)
        if n_turns > 0:
            self._move_staged_files(staging, self.turns_path)
        ingested(counts, n_turns)
        if not prep.days:
            return n_turns, [], 0, {}
        with stage("tier_1m"):
            turns = self._read_turns().filter(F.col("day").isin(prep.days))
            upd = rollup_transcripts(
                turns.select("conv_id", "role", "tool", "ts", "text_len"),
                "1m",
                text_len_col="text_len",
            ).withColumn("day", F.to_date("bucket"))
            self._merge_partitions(upd, self.tier_path("1m"))
        return (n_turns, prep.days, *self._fold_and_blobs(prep.days, False, stage))

    def _stage_bytes(self, blob_bytes: int) -> dict:
        """Bytes-level audit of a run, from FILESYSTEM facts only (dir
        walks + the write job's own observation metric — Iceberg: the
        commit manifests' file sizes; no Spark jobs).  Sizes are
        POST-run store totals, not per-run deltas, except
        ``blobs_written`` which is this run's actual blob output; on a
        first run totals == this run's writes.  Divide
        ``turns_store / stage_sec['prepare']`` for the store write's
        effective bandwidth — the number that says whether prepare is
        at the substrate's write floor or leaving headroom."""

        def _du(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        out = {
            "input_store": _du(self.store.path)
            if hasattr(self.store, "path") else None,
            "turns_store": _du(self.turns_path),
            "blobs_store": _du(os.path.join(self.out, "blobs")),
            "blobs_written": int(blob_bytes),
        }
        for tier in ("1m", "1h", "1d"):
            out[f"tier_{tier}"] = _du(self.tier_path(tier))
        return out

    # ---- retention ----
    def enforce_retention(self, policy: dict, now=None) -> dict:
        """Retention enforcement — the third leg of the north rule
        (rollup + downsample + **retention**).  ``policy`` maps tier →
        max age in days (None = keep forever), e.g.
        ``{"1m": 30, "1h": 180, "1d": None}``.

        Tier stores are day-partitioned, so expiry is a directory-level
        delete (the plain-parquet stand-in for Iceberg ``DELETE WHERE
        day < cutoff`` + snapshot expiry — a metadata-only operation, no
        data scan).  Blob segments expire only when the WHOLE segment is
        older than the cutoff (a month chunk holding any retained day
        survives); partially expired segments are re-encoded from the
        surviving tier rows, every tier in one write, and commit through
        ``_encode_and_commit_blobs`` like a run's.  ``now`` defaults to
        the newest day across tiers (data-relative, deterministic);
        returns per-tier deleted partition lists and logs a retention
        metric."""
        self._require_utc_session()

        if now is None:
            now = max(
                (d for t in TIERS for d, _ in _day_partitions(self.tier_path(t))),
                default=None,
            )
            if now is None:
                return {"status": "empty"}
        elif hasattr(now, "date"):
            now = now.date()

        deleted: dict = {}
        reencoded: dict = {}
        tier_cells: dict = {}
        for tier, max_age in policy.items():
            if max_age is None:
                continue
            cutoff = now - _dt.timedelta(days=int(max_age))
            gone = []
            for d, sub in _day_partitions(self.tier_path(tier)):
                if d < cutoff:
                    gone.append(str(d))
                    shutil.rmtree(os.path.join(self.tier_path(tier), sub))
            # blob segments starting before the cutoff: those that still
            # hold surviving tier rows are RE-ENCODED from them, so the
            # blob serving path never trails the tier tables (a month
            # chunk straddling the cutoff would otherwise still serve
            # days the tier just dropped); the rest are dropped.  A
            # segment whose swap a crash interrupted is restored first,
            # so it is listed like the others.
            tier_dir = os.path.join(self.blobs_path, f"tier_part={tier}")
            heal_interrupted_swaps(tier_dir)
            old = [
                (d, sub)
                for d, sub in _day_partitions(tier_dir, prefix="seg_day=")
                if d < cutoff
            ]
            live = {
                d: n
                for d, n in self._day_cells(tier, [d for d, _ in old]).items()
                if d >= cutoff and n
            }
            kept = {_segment_start(d, SEGMENT_TRUNC[tier]).date() for d in live}
            reencoded[tier] = [str(d) for d, _ in old if d in kept]
            for d, sub in old:
                if d not in kept:
                    gone.append(f"blob:{d}")
                    shutil.rmtree(os.path.join(tier_dir, sub))
            deleted[tier] = gone
            if live:
                tier_cells[tier] = live
        branches: dict = {}
        if tier_cells:
            self._encode_and_commit_blobs(tier_cells, "blobs_retention", branches)
        metrics = MetricsLog(os.path.join(self.out, "metrics.jsonl"), new_job_id())
        metrics.log(
            "retention",
            now=str(now),
            deleted={k: len(v) for k, v in deleted.items()},
            reencoded={k: len(v) for k, v in reencoded.items()},
            encode_branch=branches,
        )
        return {
            "status": "ok",
            "now": str(now),
            "deleted": deleted,
            "reencoded": reencoded,
        }

    def compact_turns(self, days: list | None = None) -> dict:
        """Compact the turns store: every incremental run APPENDS files
        to its day partitions, so long-running stores accumulate small
        files (read amplification on every rebuild).  Rewrites the given
        days (default: all) through the canonical layout shuffle into
        staging — one file per (task, day), every conversation one
        contiguous (ts, turn_idx)-ordered run — then swaps each staged
        day partition in by rename (``_replace_partitions_by_move``).
        This is also the migration for a store in the old
        ``day=/bucket_id=`` layout: ``bucket_id`` is read back from the
        directory names and rewritten as a data column, and such a
        store is always rewritten whole.  On Iceberg this is
        ``rewrite_data_files``.  Returns file counts before/after."""
        def _count_files() -> int:
            n = 0
            for root, _dirs, files in os.walk(self.turns_path):
                n += sum(1 for f in files if f.endswith(".parquet"))
            return n

        heal_interrupted_swaps(self.turns_path)
        before = _count_files()
        df = self._read_turns()
        if days and not self._legacy_turns_days():
            days = [
                d.date() if hasattr(d, "date") else _dt.date.fromisoformat(str(d))
                for d in days
            ]
            df = df.filter(F.col("day").isin(days))
        staging = self._stage_dir("compact")
        shutil.rmtree(staging, ignore_errors=True)
        (
            df.repartition("day", "bucket_id", "salt")
            .sortWithinPartitions(
                "day", F.xxhash64("conv_id"), "conv_id", "ts", "turn_idx"
            )
            .write.partitionBy("day")
            .parquet(staging)
        )
        self._replace_partitions_by_move(staging, self.turns_path)
        shutil.rmtree(staging, ignore_errors=True)
        after = _count_files()
        metrics = MetricsLog(os.path.join(self.out, "metrics.jsonl"), new_job_id())
        metrics.log("compact", files_before=before, files_after=after)
        return {"files_before": before, "files_after": after}

    # ---- verification surfaces ----
    def read_tier(self, tier: str) -> DataFrame:
        return self._read_tier(tier).drop("day")

    def read_blobs(self, tier: str | None = None) -> DataFrame:
        # restore any partition whose swap a crash interrupted BEFORE
        # listing — a serving read right after a crash should see the
        # pre-swap bytes, not a missing partition (same heal the
        # pipeline itself runs before its carried reads and commits)
        if os.path.isdir(self.blobs_path):
            for sub in os.listdir(self.blobs_path):
                if sub.startswith("tier_part="):
                    heal_interrupted_swaps(os.path.join(self.blobs_path, sub))
        df = self.spark.read.schema(BLOB_READ_SCHEMA).parquet(self.blobs_path)
        return df.filter(F.col("tier") == tier) if tier else df

    def decoded_series(self, tier: str) -> DataFrame:
        return decode_blobs(self.read_blobs(tier))

    def verify_text_equality(self, reference: DataFrame) -> int:
        """Per-turn text equality under stable turn ordering vs a
        reference frame (BASELINE.json invariant).  Returns the number of
        mismatching turns (0 = invariant holds)."""
        ours = self._read_turns().select(
            "conv_id", "turn_idx", F.col("text").alias("text_ours")
        )
        theirs = reference.select("conv_id", "turn_idx", "text")
        joined = theirs.join(ours, ["conv_id", "turn_idx"], "full_outer")
        return joined.filter(
            ~F.col("text").eqNullSafe(F.col("text_ours"))
        ).count()
