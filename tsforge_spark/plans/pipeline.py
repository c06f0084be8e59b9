"""End-to-end rollup pipeline: ingest → 1m/1h/1d tiers → Gorilla blobs,
incremental, resumable, with lineage + metrics.

Dataflow (full or incremental — same code path):

  snapshot delta (SnapshotStore.read after checkpoint)
    → prepare: null-key drop, (conv_id, turn_idx) dedup (in-delta +
      against already-ingested turns for affected buckets), hash-bucket
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
    → blobs: re-encode only affected (conv, segment) chunks
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
runs prune at the directory level; merges stage to a scratch dir then
dynamic-overwrite only touched partitions (on Iceberg this whole dance is
one ``MERGE INTO`` with snapshot isolation).  The per-group encode kernel
is bounded by segment size, so hot conversations cannot straggle (see
codec/blobs.py).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsforge_spark.codec.blobs import (
    BLOB_READ_SCHEMA, SEGMENT_TRUNC, decode_blobs, encode_tier_blobs,
    encodes_on_driver,
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


class RollupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        out_dir: str,
        n_buckets: int = 32,
        measures: tuple[str, ...] = ("turns", "tool_calls"),
        dedup_against_history: bool = True,
        hot_threshold: int = 100_000,
        hot_block_size: int = 50_000,
        day_literal_limit: int = 200,
        history_dedup_scope: str = "affected-days",
        unique_key_check: str = "probe",
        blob_conv_prune_limit: int = 0,
    ):
        """``unique_key_check`` controls in-delta dedup verification:

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
        self.measures = measures
        self.dedup_against_history = dedup_against_history
        self.hot_threshold = hot_threshold
        self.hot_block_size = hot_block_size
        self.day_literal_limit = day_literal_limit
        if history_dedup_scope not in ("affected-days", "full"):
            raise ValueError(
                "history_dedup_scope must be 'affected-days' or 'full'"
            )
        self.history_dedup_scope = history_dedup_scope
        if unique_key_check not in ("probe", "trust"):
            raise ValueError("unique_key_check must be 'probe' or 'trust'")
        self.unique_key_check = unique_key_check
        # a delta touching at most this many conversations re-encodes
        # only THEIR blob segments (existing blobs of untouched convs in
        # the same chunk are carried over by a bytes-level read, no
        # decode/re-encode).  Default OFF: at bench scale the batched
        # encoder makes whole-chunk re-encode cheaper than the carried
        # copy (A/B'd: 3.5s vs 5.2s on a 2% delta / 20k convs).  Turn ON
        # (set to the daily conv bound) when segment population is much
        # larger than the delta — e.g. 100M convs/month vs 1M/day, where
        # re-encoding every conversation's chunk for a 1% delta reads
        # back the wide tier rows and burns encode CPU the carried copy
        # never touches.
        self.blob_conv_prune_limit = blob_conv_prune_limit
        # set by _prepare's key probes; consumed by run() for lineage
        self._probe_info: dict = {
            "has_dups": False, "delta_convs": None,
        }
        os.makedirs(out_dir, exist_ok=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

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

    def _read_if_exists(self, path: str) -> DataFrame | None:
        """The turns store at ``path``, or None when it holds no data
        files Spark would list — names starting with ``_`` or ``.`` are
        hidden from Spark, so the ``_temporary`` debris of a write killed
        before its commit counts as no data.  Any other read failure (a
        corrupt footer, conflicting partition directories) propagates:
        treating an unreadable store as empty would silently skip dedup
        against history."""
        hidden = ("_", ".")
        for _root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(hidden)]
            if any(
                f.endswith(".parquet") and not f.startswith(hidden)
                for f in files
            ):
                return self._read_turns(path)
        return None

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
        self._heal_interrupted_swaps(self.turns_path)
        legacy = self._legacy_turns_days()
        if legacy:
            raise RuntimeError(
                f"turns store {self.turns_path} uses the old "
                f"day=/bucket_id= layout ({legacy[0]} holds bucket_id= "
                "directories); run RollupPipeline.compact_turns() once to "
                "migrate it to the day-only layout"
            )

    # ---- stages ----
    def _day_filter(self, col_name: str, days):
        """Partition filter for a list of affected event days.  Small
        lists go in as literals (static partition pruning, guaranteed at
        planning time); a months-long backfill would put thousands of
        literals in the plan, so large lists become a broadcast semi-join
        against a days dim (dynamic partition pruning)."""
        if len(days) <= self.day_literal_limit:
            return lambda df: df.filter(F.col(col_name).isin(days))
        dim = F.broadcast(
            self.spark.createDataFrame([(d,) for d in days], "_aff_day date")
        )
        return lambda df: df.join(
            dim, df[col_name] == dim["_aff_day"], "left_semi"
        )

    def _prepare(
        self, delta: DataFrame, affected_days=None, need_days: bool = False
    ) -> DataFrame:
        """Clean + dedup + canonical bucketed/ordered layout.

        Two key-only probes run CONCURRENTLY (narrow column-pruned scans
        submitted from separate threads fill each other's idle task
        slots):

        - dedup verification on the 64-bit key hash — uniqueness of
          ``(conv_id, turn_idx)`` is the input contract, so the full-row
          ``dropDuplicates`` shuffle runs only when violations exist.
          Hashing shrinks the probe shuffle to 8-byte keys; a hash
          collision can only cause a false *positive* verdict (an
          unnecessary dropDuplicates pass), never a wrong result.
        - a fused per-bucket aggregate — ONE delta scan feeds the
          hot-key set and the conv-prune id list; a concurrent day
          probe supplies (when ``need_days``) the affected-day set.
          Per-bucket lineage counts are not probed: they ride the turns
          write itself (``_write_turns``).

        Affected days derive from the CLEAN (pre-dedup) delta: a row
        whose key columns are null never lands in any store, so its day
        needs no heal; rows dropped by DEDUP still contribute their days
        (the crash-replay anchor — a replayed snapshot whose rows were
        already ingested must still recompute the days it touched)."""
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

        def _hot_probe() -> tuple:
            # ONE action at the bucket grain carries everything bounded:
            # the hot-conversation ids riding along
            # as collect_list(when(count>thr)) — nulls are skipped, so
            # the list holds only hots, small by definition — the
            # per-bucket conv count (conv-prune gate), and, when pruning
            # is enabled, the conv-id list itself (capped per bucket at
            # limit+1 via slice: if the TOTAL is within the limit every
            # bucket's list is complete, and when the total overflows
            # the lists go unused, so the driver transfer is bounded by
            # n_buckets·(limit+1) ids either way).  Job fixed cost
            # dominates small deltas, so fewer+fused actions beat a
            # cached frame with per-derivation jobs — a second
            # per_conv.collect() here would re-scan and re-aggregate the
            # whole delta.
            per_conv = clean.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("count")
            )
            agg_cols = [
                F.collect_list(
                    F.when(
                        F.col("count") > self.hot_threshold,
                        F.col("conv_id"),
                    )
                ).alias("hots"),
                F.count(F.lit(1)).alias("n_convs"),
            ]
            if self.blob_conv_prune_limit > 0:
                agg_cols.append(
                    F.slice(
                        F.collect_list("conv_id"),
                        1,
                        self.blob_conv_prune_limit + 1,
                    ).alias("conv_ids")
                )
            rows = (
                per_conv.groupBy(
                    F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets))
                    .cast("int")
                    .alias("bucket_id")
                )
                .agg(*agg_cols)
                .collect()
            )
            hots = [c for r in rows for c in r["hots"]]
            delta_convs = None
            if (
                self.blob_conv_prune_limit > 0
                and sum(int(r["n_convs"]) for r in rows)
                <= self.blob_conv_prune_limit
            ):
                delta_convs = [c for r in rows for c in r["conv_ids"]]
            return hots, delta_convs

        def _days_probe() -> list:
            # map-side distinct to a handful of day rows; runs
            # concurrently with the bucket probe
            return [
                r["_d"]
                for r in clean.select(F.to_date("ts").alias("_d"))
                .distinct()
                .collect()
            ]

        from concurrent.futures import ThreadPoolExecutor

        # The probe scan is only worth paying when something consumes
        # its output: dup verification (probe mode), the affected-day
        # set (incremental runs), or the conv-prune id list.  A
        # trust-mode FIRST run needs none of those — lineage counts ride
        # the store write, days come from the partition dirs, and
        # hot-conversation detection happens INLINE in
        # salted_layout (hot_ids=None → a column-pruned self-aggregate +
        # broadcast left join inside the write job: no separate driver
        # round-trip, pipelined with the scan it already does).
        need_probe = (
            self.unique_key_check == "probe"
            or need_days
            or self.blob_conv_prune_limit > 0
        )
        if not need_probe:
            has_dups = False
            hot_ids, delta_convs, days = None, None, None
        else:
            # independent probes run CONCURRENTLY from driver threads
            # (each is a narrow column-pruned scan; FAIR scheduling
            # interleaves their tasks so wall ≈ the slowest one)
            with ThreadPoolExecutor(3) as ex:
                f_dup = (
                    ex.submit(_dup_probe)
                    if self.unique_key_check == "probe"
                    else None
                )
                f_days = ex.submit(_days_probe) if need_days else None
                f_hot = ex.submit(_hot_probe)
                # trust mode: contract-clean input (see __init__) — no
                # in-delta verification; history dedup still applies
                has_dups = f_dup.result() if f_dup is not None else False
                days = f_days.result() if f_days is not None else None
                hot_ids, delta_convs = f_hot.result()
        if need_days and affected_days is None:
            affected_days = days
        self._probe_info = {
            "has_dups": has_dups,
            "delta_convs": delta_convs,
            "days": days,
        }
        if has_dups:
            clean = clean.dropDuplicates(["conv_id", "turn_idx"])
        existing = self._read_if_exists(self.turns_path)
        if self.dedup_against_history and existing is not None:
            # exactly-once ingest: drop turns already processed.  The
            # turns store is day-partitioned; under the ts-immutability
            # contract (see __init__: history_dedup_scope) only the
            # delta's affected days can contain prior copies of its
            # keys, so the history scan partition-prunes to those days
            # instead of growing with total history size.  scope="full"
            # keeps the whole-history key scan for feeds that rewrite ts.
            keys = existing
            if affected_days and self.history_dedup_scope == "affected-days":
                keys = self._day_filter("day", affected_days)(keys)
            keys = keys.select("bucket_id", "conv_id", "turn_idx")
            clean = clean.withColumn(
                "bucket_id",
                F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)).cast("int"),
            ).join(
                keys, ["bucket_id", "conv_id", "turn_idx"], "left_anti"
            ).drop("bucket_id")
        # the content-final (cleaned, deduped, anti-joined) frame BEFORE
        # physical layout: run()'s first-run path rolls the 1m tier up
        # from this directly — a groupBy needs no bucketed/sorted layout,
        # so the rollup can run CONCURRENTLY with the store write instead
        # of waiting to read the store back
        self._clean_for_tier = clean
        # canonical layout: hash buckets + explicit hot-conversation salt
        # (operators/skew.py) + stable (conv_id, ts, turn_idx) order
        from tsforge_spark.operators.skew import salted_layout

        # text_len rides the store so tier rebuilds can column-prune the
        # text payload itself (the bulk of the store's bytes).
        # The store is written partitionBy("day"), so the layout sort
        # leads with day: the writer's required ordering is then a
        # satisfied prefix and the plan holds ONE sort, (day,
        # xxhash64(conv_id), conv_id, ts, turn_idx).  Without the prefix
        # the writer plans its own Sort [day] and the optimizer drops
        # the layout sort beneath it, so files lose per-conversation
        # contiguity and (ts, turn_idx) order.
        return salted_layout(
            clean.withColumn("text_len", F.length("text")).withColumn(
                "day", F.to_date("ts")
            ),
            key="conv_id",
            order_col="turn_idx",
            n_buckets=self.n_buckets,
            hot_threshold=self.hot_threshold,
            block_size=self.hot_block_size,
            hot_ids=hot_ids,
            # day joins the exchange key: ~days× more distinct
            # partition values over the same partition count evens the
            # write wave out — see salted_layout's note.
            extra_partition_cols=("day",),
            sort_prefix=("day",),
        )

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.out, "_staging", name)

    def _merge_partitions(
        self, new_df: DataFrame, target: str, partition_cols, stage: str
    ) -> None:
        """Dynamic-overwrite only the partitions present in ``new_df``
        (Iceberg: MERGE INTO).  A direct write is safe because no tier or
        blob merge reads its own target (tiers derive from the turns
        store / the finer tier; blobs derive from tier stores) — the only
        self-referential write in the pipeline is the ingest anti-join,
        which keeps its explicit staging materialization in ``run``.

        Crash semantics: new files land under the job's temporary dir and
        partition replacement happens at job commit, so a crash mid-write
        leaves old partitions readable; a crash mid-commit can leave a
        subset replaced — both are healed by the replay contract (the
        checkpoint only advances after all stages commit, and every stage
        is a full recompute of the affected day partitions)."""
        if isinstance(partition_cols, str):
            partition_cols = [partition_cols]
        new_df.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            target
        )
        _ = stage  # kept for call-site symmetry / future Iceberg MERGE

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
        them (same filesystem → rename).  File names carry Spark's
        per-job UUID, so collisions with existing store files cannot
        occur.  Returns the number of files moved."""
        moved = 0
        for sub in os.listdir(staging):
            if not sub.startswith("day="):
                continue
            root = os.path.join(staging, sub)
            dst_dir = os.path.join(target, sub)
            os.makedirs(dst_dir, exist_ok=True)
            for f in os.listdir(root):
                if f.endswith(".parquet"):
                    os.replace(
                        os.path.join(root, f), os.path.join(dst_dir, f)
                    )
                    moved += 1
        return moved

    def _heal_interrupted_swaps(self, target: str) -> None:
        """Recover partitions from a swap interrupted between its two
        renames: a leftover ``.trash_<sub>`` dir whose ``<sub>`` is
        missing means the old partition was renamed away but the new one
        never landed — restore it (the replay recompute then overwrites
        it normally).  A leftover WITH ``<sub>`` present is post-install
        debris — drop it.  Must run before any read of ``target`` that
        assumes partition completeness (the conv-pruned carried-blob
        read), not just before the next commit.

        Every filesystem op tolerates concurrent mutation (OSError →
        skip): a serving reader may run this while a live writer is
        inside its two-rename window, and the reader 'restoring' that
        in-flight trash dir must never fail the writer's commit — the
        writer's own pre-commit heal (under its subtree ownership) is
        the authoritative one; the reader's is best-effort so a
        post-crash read sees the pre-swap bytes."""
        if not os.path.isdir(target):
            return
        try:
            entries = os.listdir(target)
        except OSError:
            return
        for t in entries:
            if not t.startswith(".trash_"):
                continue
            orig = os.path.join(target, t[len(".trash_"):])
            tr = os.path.join(target, t)
            try:
                if os.path.exists(orig):
                    shutil.rmtree(tr, ignore_errors=True)
                else:
                    os.replace(tr, orig)
            except OSError:
                # lost the race with the writer (it re-installed orig or
                # removed the trash between our check and the rename) —
                # the writer's state is the correct one; leave it alone
                continue

    def _replace_partitions_by_move(self, staging: str, target: str) -> None:
        """Dynamic-partition-overwrite via driver-side file moves: for
        each ``day=…`` partition dir in ``staging``, swap the matching
        target partition for the staged one (Iceberg: REPLACE PARTITIONS
        commit).  The swap is rename-to-trash — ``os.replace(dst,
        .trash_sub); os.replace(src, dst); rmtree(.trash_sub)`` — so the
        vulnerable window is two renames, not an unbounded rmtree, and a
        crash inside it leaves the old bytes intact under a dot-prefixed
        dir (invisible to Spark's file listing) that
        ``_heal_interrupted_swaps`` restores on the next run.  A crash
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
        self._heal_interrupted_swaps(target)
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

    def _day_cells(self, tier: str, segments) -> dict:
        """``{day: cells}`` for the ``day=`` partitions of ``tier`` that
        hold cells of the segments starting at ``segments`` (for a month
        segment, every day of the month), counted from the parquet
        footers — driver-side metadata only, no Spark job (Iceberg:
        manifest stats)."""
        import pyarrow.parquet as pq

        unit, want = SEGMENT_TRUNC[tier], set(segments)
        root = self.tier_path(tier)
        out = {}
        for sub in sorted(os.listdir(root)):
            if not sub.startswith("day="):
                continue
            day = _dt.date.fromisoformat(sub[len("day="):])
            if _segment_start(day, unit) not in want:
                continue
            part = os.path.join(root, sub)
            out[day] = sum(
                pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
                for f in os.listdir(part)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return out

    def _encode_segments(
        self, tier: str, day_cells: dict, conv_ids=None
    ) -> tuple[DataFrame, str]:
        """Blob rows, with their store partition columns, of the
        ``tier`` cells in the day partitions of ``day_cells`` (whole
        segments, as ``_day_cells`` lists them; optionally only
        ``conv_ids``' cells), and the encode branch taken.  The footer
        count bounds the slice, so one that fits an Arrow batch encodes
        on the driver (``encode_tier_blobs``)."""
        cells = self._day_filter("day", sorted(day_cells))(self._read_tier(tier))
        if conv_ids is not None:
            cells = cells.filter(F.col("conv_id").isin(conv_ids))
        hint = sum(day_cells.values())
        blobs = encode_tier_blobs(
            cells.drop("day"), tier, self.measures, cells_hint=hint
        )
        branch = "driver" if encodes_on_driver(self.spark, hint) else "spark"
        return (
            blobs.withColumn("seg_day", F.to_date("segment")).withColumn(
                "tier_part", F.lit(tier)
            ),
            branch,
        )

    def _encode_and_commit_blobs(
        self,
        tiers: list,
        staging_name: str,
        affected_days,
        prune_convs: bool,
        delta_convs,
        branches: dict,
    ) -> int:
        """Re-encode the affected (tier, segment) blob chunks for a
        GROUP of tiers and commit them (stage → atomic per-partition
        move).  Returns bytes written this call and records each tier's
        encode branch in ``branches``.

        All tiers in the group union into ONE write job (fewer
        fixed-cost job launches; blobs derive from tier tables, so no
        extra staging materialization is needed).  Each tier's slice is
        bounded by the footer cell count of the day partitions it can
        touch, which picks the encode branch (``encode_tier_blobs``): a
        slice that fits one Arrow batch encodes on the driver.  Bytes
        written ride the write job as an observation metric (one cheap
        sum — Iceberg: commit manifest statistics); a readback scan, even
        partition-pruned, would be a whole extra job.  Staging + atomic
        per-partition moves (not a direct dynamic overwrite): the
        conv-pruned path READS the blob store it replaces, so the swap
        must happen only after the carried bytes are safely rewritten —
        each seg_day partition swaps via rename-to-trash (old bytes
        survive a mid-swap crash under ``.trash_*`` and are restored by
        ``_heal_interrupted_swaps`` before the next carried read).

        conv-pruned fast path (``prune_convs``): only DELTA
        conversations' tier cells can have changed, so when the delta
        is small (daily batch) encode just their segments and carry the
        untouched conversations' existing blobs over with a bytes-level
        read (no decode, no re-encode) — a month chunk at 1h/1d grain
        otherwise re-encodes every conversation in the store for a 2%
        delta."""
        from pyspark.sql import Observation

        all_blobs = None
        for tier in tiers:
            seg_unit = SEGMENT_TRUNC[tier]
            seg_of_day = sorted(
                {_segment_start(d, seg_unit) for d in affected_days}
            )
            blobs, branches[tier] = self._encode_segments(
                tier, self._day_cells(tier, seg_of_day),
                conv_ids=delta_convs if prune_convs else None,
            )
            if prune_convs:
                seg_days = sorted({s.date() for s in seg_of_day})
                # Read ONLY this tier's subtree.  Reading the whole blobs
                # root here would eagerly list tier_part=* dirs that a
                # CONCURRENT blob thread (1m ∥ 1h under fine_split) is
                # mid-swap on — a vanished-path FileNotFoundException
                # race.  Per-tier read + per-tier commit means each
                # thread lists and mutates only its own subtree, so the
                # threads never observe each other's commits at all.
                tier_blob_dir = os.path.join(
                    self.blobs_path, f"tier_part={tier}"
                )
                self._heal_interrupted_swaps(tier_blob_dir)
                if os.path.isdir(tier_blob_dir):
                    carried = (
                        self.spark.read.parquet(tier_blob_dir)
                        .filter(
                            F.col("seg_day").isin(seg_days)
                            & ~F.col("conv_id").isin(delta_convs)
                        )
                        .withColumn("tier_part", F.lit(tier))
                    )
                    blobs = blobs.unionByName(
                        carried.select(*blobs.columns),
                        allowMissingColumns=False,
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
        for tier in tiers:
            self._replace_partitions_by_move(
                os.path.join(blob_staging, f"tier_part={tier}"),
                os.path.join(self.blobs_path, f"tier_part={tier}"),
            )
        shutil.rmtree(blob_staging, ignore_errors=True)
        return int(obs_blobs.get["bytes"] or 0)

    def _fold_and_blobs(
        self,
        affected_days,
        prune_convs: bool,
        delta_convs,
        first_run: bool,
        metrics,
    ) -> dict:
        """1h/1d folds ∥ blob encodes for the affected days (the fold
        topology and thread split documented at the call sites).
        Extracted from ``run`` (round 8) so the FIRST-RUN path can
        chain it inside the tier thread, overlapping the whole fold +
        blob section with the store write — it depends only on the
        committed 1m tier, never on the turns-store write.  Returns
        stage timings + bytes for the caller's accounting."""
        import threading as _threading

        day_filter = self._day_filter("day", affected_days)
        blob_timings: dict[str, float] = {}
        blob_errors: list[BaseException] = []
        blob_bytes_box: dict[str, int] = {}
        branches: dict[str, str] = {}

        def _spawn_blob(tier: str) -> _threading.Thread:
            def _run() -> None:
                t0 = time.time()
                try:
                    blob_bytes_box[tier] = self._encode_and_commit_blobs(
                        [tier], f"blobs_{tier}", affected_days,
                        prune_convs, delta_convs, branches,
                    )
                except BaseException as e:  # noqa: BLE001 — rethrown below
                    blob_errors.append(e)
                blob_timings[f"blob_{tier}"] = time.time() - t0

            t = _threading.Thread(target=_run)
            t.start()
            return t

        # Split granularity is adaptive: big (re)builds use the finest
        # pipelining (1h blobs ∥ 1d fold — a third blob job whose launch
        # cost is dwarfed by the encode), while small incremental deltas
        # batch 1h+1d into one job — their encodes are tiny, so an extra
        # job launch costs more than the overlap saves (A/B'd on the
        # sf0.1 daily delta).
        fine_split = first_run or len(affected_days) > 4

        t_all0 = time.time()
        t_fold0 = time.time()
        th_1m = _spawn_blob("1m")

        upd_1m = day_filter(self._read_tier("1m"))
        upd_1h = fold_tier(upd_1m.drop("day"), "1h").withColumn(
            "day", F.to_date("bucket")
        )
        self._merge_partitions(upd_1h, self.tier_path("1h"), "day", "t1h")
        # 1h blobs only need the committed 1h tier — encode them while
        # the 1d fold runs
        th_1h = _spawn_blob("1h") if fine_split else None
        upd_1h_read = day_filter(self._read_tier("1h"))
        upd_1d = fold_tier(upd_1h_read.drop("day"), "1d").withColumn(
            "day", F.to_date("bucket")
        )
        self._merge_partitions(upd_1d, self.tier_path("1d"), "day", "t1d")
        fold_sec = time.time() - t_fold0
        for t in (th_1m, th_1h) if th_1h is not None else (th_1m,):
            t.join()
        if blob_errors:
            raise blob_errors[0]
        tail_tiers = ["1d"] if fine_split else ["1h", "1d"]
        blob_bytes_box["tail"] = self._encode_and_commit_blobs(
            tail_tiers, "blobs_tail", affected_days, prune_convs,
            delta_convs, branches,
        )
        metrics.log("tier_fold", tiers=["1h", "1d"])
        blob_bytes_written = sum(blob_bytes_box.values())
        metrics.log(
            "blobs",
            blob_bytes_written=int(blob_bytes_written),
            encode_branch=dict(sorted(branches.items())),
        )
        return {
            "fold_sec": round(fold_sec, 2),
            "blob_1m_sec": round(blob_timings.get("blob_1m", 0.0), 2),
            "total_sec": round(time.time() - t_all0, 2),
            "blob_bytes": int(blob_bytes_written),
        }

    # ---- main entry ----
    def run(self) -> dict:
        """Process every snapshot after the checkpoint; no-op when
        up-to-date.  Returns per-stage metrics incl. turns/sec."""
        t0 = time.time()
        stage_sec: dict[str, float] = {}

        def mark(name: str, _last=[t0]) -> None:
            now = time.time()
            stage_sec[name] = round(now - _last[0], 2)
            _last[0] = now

        self._require_utc_session()
        ckpt = self.checkpoint()
        last = self.store.last_snapshot_id()
        after = ckpt["last_snapshot_id"]
        if last <= after:
            return {"status": "up-to-date", "last_snapshot_id": after}
        job_id = new_job_id()
        metrics = MetricsLog(os.path.join(self.out, "metrics.jsonl"), job_id)

        self._check_turns_layout()
        delta = self.store.read(self.spark, after=after, upto=last)
        first_run = after == 0 and not os.path.exists(self.turns_path)
        # Affected event days: _prepare's concurrent day probe on
        # incremental runs; on first runs they come free from the
        # partition dirs the store write creates.  Days derive from the
        # PRE-dedup delta, so a crash replay (turns already appended,
        # tiers not yet rebuilt) still knows which day partitions to
        # heal even though dedup reduces the delta to zero rows — the
        # crash-safety anchor:
        # every stage below is an idempotent recompute over these days.

        # Materialize the prepared delta to immutable staging files FIRST:
        # `_prepare` anti-joins against the turns store, so once we append
        # to that store any lazy recomputation of the plan would see its
        # own output and produce an empty delta.  Staging breaks the
        # self-referential lineage (on Iceberg, snapshot isolation of the
        # MERGE does this for free).
        ingest_staging = self._stage_dir("ingest")
        prepared = self._prepare(delta, need_days=not first_run)
        mark("probe")  # _prepare's eager probe jobs (hot keys/buckets/days)
        affected_days = self._probe_info.get("days")
        if first_run:
            # no history → no anti-join self-reference, so the
            # turns-store write IS the materialization (saves a full
            # staging write), and the 1m tier rolls up from the SAME
            # content-final frame CONCURRENTLY — the write is IO-bound,
            # the rollup CPU-bound, and FAIR scheduling interleaves
            # their tasks (a tier rebuilt from the store would read the
            # store back AFTER the write finished; on a first run the
            # store content IS the prepared delta, so deriving the tier
            # from the same lineage is bit-identical).  Row counts come
            # from the write's own observation, the affected-day set
            # from the partition dirs it created (Iceberg: the commit's
            # manifest statistics).
            import threading

            timings: dict[str, float] = {}
            errors: list[BaseException] = []
            ingest: dict = {}

            def _t_write() -> None:
                t0 = time.time()
                try:
                    ingest["counts"] = self._write_turns(
                        prepared, self.turns_path
                    )
                except BaseException as e:  # noqa: BLE001 — rethrown below
                    errors.append(e)
                timings["write"] = time.time() - t0

            fold_box: dict = {}

            def _t_tier() -> None:
                t0 = time.time()
                try:
                    upd = rollup_transcripts(
                        self._clean_for_tier.select(
                            "conv_id", "role", "tool", "ts", "text"
                        ),
                        "1m",
                    ).withColumn("day", F.to_date("bucket"))
                    self._merge_partitions(
                        upd, self.tier_path("1m"), "day", "t1m"
                    )
                    timings["tier"] = time.time() - t0
                    # Chain the 1h/1d folds + blob encodes HERE (round
                    # 8): they depend only on the 1m tier committed one
                    # line up — never on the turns-store write — so on a
                    # first run the entire fold+blob section overlaps
                    # the write's remaining tail instead of waiting for
                    # the barrier (measured at sf1.0: write 32s, tier
                    # 19s; folds+blobs ~11s previously ran AFTER the
                    # write).  The affected-day set comes from the
                    # tier's OWN partition dirs (day = to_date(bucket)
                    # == to_date(ts), the same day set the store write
                    # creates); crash semantics
                    # are unchanged — the checkpoint still commits only
                    # after everything, and a crash mid-overlap replays
                    # into the same idempotent affected-day recompute as
                    # a crash mid-write did before.
                    days_1m = sorted(
                        _dt.date.fromisoformat(sub.split("=", 1)[1])
                        for sub in os.listdir(self.tier_path("1m"))
                        if sub.startswith("day=")
                    )
                    fold_box["days"] = days_1m
                    if days_1m:
                        fold_box["result"] = self._fold_and_blobs(
                            days_1m,
                            prune_convs=False,
                            delta_convs=None,
                            first_run=True,
                            metrics=metrics,
                        )
                except BaseException as e:  # noqa: BLE001 — rethrown below
                    errors.append(e)
                timings.setdefault("tier", time.time() - t0)

            t_overlap0 = time.time()
            threads = [
                threading.Thread(target=_t_write),
                threading.Thread(target=_t_tier),
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                raise errors[0]
            overlap_wall = time.time() - t_overlap0
            counts, n_turns = ingest["counts"]
            affected_days = sorted(
                _dt.date.fromisoformat(sub.split("=", 1)[1])
                for sub in os.listdir(self.turns_path)
                if sub.startswith("day=")
            )
        else:
            # stage ALREADY day-partitioned: the append then becomes a
            # driver-side file move (the plain-parquet stand-in for an
            # Iceberg fast-append commit, which is exactly "add these
            # data files to the table"), and the exact post-anti-join
            # row counts ride the staging write — no readback aggregate
            # job, no second write of the delta.
            shutil.rmtree(ingest_staging, ignore_errors=True)
            counts, n_turns = self._write_turns(prepared, ingest_staging)
        if first_run:
            # overlapped stage accounting: prepare = the store write's
            # own duration, tier_1m = the rollup's own duration; their
            # shared wall is overlap_wall (< prepare + tier_1m when the
            # interleave pays off).  mark()'s running clock is advanced
            # by the barrier wall so the stage sum still reconciles.
            stage_sec["prepare"] = round(timings.get("write", 0.0), 2)
            stage_sec["tier_1m"] = round(timings.get("tier", 0.0), 2)
            stage_sec["overlap_wall"] = round(overlap_wall, 2)
            mark("_overlap")
            stage_sec.pop("_overlap", None)
        else:
            mark("prepare")
        metrics.log("ingest", rows=n_turns, snapshots=[after + 1, last])

        if not affected_days:
            ckpt.update(last_snapshot_id=last, runs=ckpt["runs"] + 1)
            self._commit_checkpoint(ckpt)
            return {"status": "empty-delta", "turns": 0}

        # canonical ordered turns store (append — rows are new by dedup;
        # on a first run the store write already happened above).  The
        # staged files are already in final day layout and final sort
        # order, so the append is a metadata-only file move.
        # Crash mid-move leaves a subset appended — healed by the replay
        # contract (dedup-against-history drops the moved rows, the
        # affected-day recompute rebuilds the tiers), same convergence
        # as a crash mid-commit of the previous write-job append.
        if not first_run and n_turns > 0:
            self._move_staged_files(ingest_staging, self.turns_path)
        mark("turns_store")

        if n_turns > 0:
            # lineage at the hash-bucket grain — counts are the ingest
            # write's observation on every path (the store write on
            # first runs, the delta staging write on incremental runs);
            # written driver-side: ≤ n_buckets tiny rows don't justify a
            # Spark job's fixed launch+commit cost
            append_lineage(
                self.lineage_path, job_id, "ingest", last, counts,
                detail=f"after={after}",
            )
        mark("lineage")

        # ---- 1m tier: recompute affected day partitions from the
        # authoritative turns store (day-partition pruned scan).  A full
        # per-day recompute — rather than merging delta partials into old
        # cells — makes every run idempotent: replaying the same snapshot
        # (crash recovery, duplicate batch) converges to the same tiers.
        # (On a first run the 1m tier was already built concurrently with
        # the store write above — store content == prepared delta, same
        # lineage, bit-identical cells; tests diff the two paths.)
        day_filter = self._day_filter("day", affected_days)
        if not first_run:
            turns_aff = day_filter(self._read_turns())
            # rebuild from (role, tool, ts, text_len) only — the text
            # payload never leaves the scan (parquet column pruning)
            upd_1m = rollup_transcripts(
                turns_aff.select("conv_id", "role", "tool", "ts", "text_len"),
                "1m",
                text_len_col="text_len",
            ).withColumn("day", F.to_date("bucket"))
            self._merge_partitions(upd_1m, self.tier_path("1m"), "day", "t1m")
            mark("tier_1m")
        metrics.log("tier_1m", affected_days=len(affected_days))

        # ---- 1h / 1d folds ∥ 1m blob encode.  The 1m tier is final as
        # soon as its merge commits, and the 1m blobs (the bulk of the
        # encode work — 60× the cells of 1h) depend on NOTHING the folds
        # produce, so a second driver thread encodes+commits them while
        # the main thread folds 1h/1d; FAIR scheduling interleaves the
        # two jobs' tasks.  1h/1d blobs then encode after their tiers
        # commit.  Same commit protocol per group (stage → atomic
        # per-partition move), so crash semantics are unchanged — a
        # crash between the two blob commits leaves some tiers' blobs
        # stale, healed by the replay recompute like any mid-commit
        # crash.
        #
        # Fold topology: 1d folds from the WRITTEN 1h partitions (a tiny
        # read-back), not from the 1h plan — recomputing the 1h
        # aggregate inside the 1d branch (or fusing both tiers into one
        # GROUPING SETS job, which Expands every 1m cell twice) doubles
        # the shuffled fine-cell volume; chained folds shuffle 1x fine
        # cells + 1x hour cells, the minimum.
        if first_run:
            # folds + blobs already ran inside the tier thread,
            # overlapped with the store write (see _t_tier); surface
            # their timings into the stage accounting.  mark() is NOT
            # advanced — their wall was inside overlap_wall.
            fold_res = fold_box.get("result") or {
                "fold_sec": 0.0, "blob_1m_sec": 0.0, "total_sec": 0.0,
                "blob_bytes": 0,
            }
            stage_sec["tier_fold"] = fold_res["fold_sec"]
            stage_sec["blob_1m"] = fold_res["blob_1m_sec"]
            stage_sec["blobs"] = round(
                fold_res["total_sec"] - fold_res["fold_sec"], 2
            )
        else:
            delta_convs = self._probe_info.get("delta_convs")
            prune_convs = (
                delta_convs is not None
                and os.path.exists(self.blobs_path)
            )
            mark("_pre_fold")
            stage_sec.pop("_pre_fold", None)
            fold_res = self._fold_and_blobs(
                affected_days, prune_convs=prune_convs,
                delta_convs=delta_convs, first_run=False, metrics=metrics,
            )
            stage_sec["tier_fold"] = fold_res["fold_sec"]
            stage_sec["blob_1m"] = fold_res["blob_1m_sec"]
            mark("_fold_blob")
            stage_sec["blobs"] = round(
                stage_sec.pop("_fold_blob") - stage_sec["tier_fold"], 2
            )
        blob_bytes_written = fold_res["blob_bytes"]

        shutil.rmtree(ingest_staging, ignore_errors=True)
        ckpt.update(last_snapshot_id=last, runs=ckpt["runs"] + 1)
        self._commit_checkpoint(ckpt)
        wall = time.time() - t0
        result = {
            "status": "ok",
            "job_id": job_id,
            "turns": n_turns,
            "wall_sec": wall,
            "turns_per_sec": n_turns / wall,
            "blob_bytes": int(blob_bytes_written),
            "last_snapshot_id": last,
            "affected_days": len(affected_days),
            "stage_sec": stage_sec,
            "stage_bytes": self._stage_bytes(int(blob_bytes_written)),
        }
        metrics.log("done", **{k: v for k, v in result.items() if k != "status"})
        return result

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
    def enforce_retention(
        self, policy: dict, now=None, dry_run: bool = False
    ) -> dict:
        """Retention enforcement — the third leg of the north rule
        (rollup + downsample + **retention**).  ``policy`` maps tier →
        max age in days (None = keep forever), e.g.
        ``{"1m": 30, "1h": 180, "1d": None}``.

        Tier stores are day-partitioned, so expiry is a directory-level
        delete (the plain-parquet stand-in for Iceberg ``DELETE WHERE
        day < cutoff`` + snapshot expiry — a metadata-only operation, no
        data scan).  Blob segments expire only when the WHOLE segment is
        older than the cutoff (a month chunk holding any retained day
        survives).  ``now`` defaults to the newest day across tiers
        (data-relative, deterministic); returns per-tier deleted
        partition lists and logs a retention metric."""
        self._require_utc_session()

        def _day_dirs(root: str, prefix: str = "day="):
            out = []
            if not os.path.isdir(root):
                return out
            for sub in os.listdir(root):
                if sub.startswith(prefix):
                    try:
                        out.append(
                            (_dt.date.fromisoformat(sub[len(prefix):]), sub)
                        )
                    except ValueError:
                        continue
            return out

        if now is None:
            newest = None
            for tier in TIERS:
                for d, _ in _day_dirs(self.tier_path(tier)):
                    newest = d if newest is None or d > newest else newest
            if newest is None:
                return {"status": "empty"}
            now = newest
        elif hasattr(now, "date"):
            now = now.date()

        deleted: dict = {}
        reencoded: dict = {}
        branches: dict = {}
        for tier, max_age in policy.items():
            if max_age is None:
                continue
            cutoff = now - _dt.timedelta(days=int(max_age))
            gone = []
            for d, sub in _day_dirs(self.tier_path(tier)):
                if d < cutoff:
                    gone.append(str(d))
                    if not dry_run:
                        shutil.rmtree(
                            os.path.join(self.tier_path(tier), sub)
                        )
            # blob segments: drop fully-expired chunks; RE-ENCODE
            # partially-expired ones from the surviving tier rows so the
            # blob serving path never trails the tier tables (a month
            # chunk straddling the cutoff would otherwise still serve
            # days the tier just dropped)
            seg_unit = SEGMENT_TRUNC[tier]
            tier_dir = os.path.join(self.blobs_path, f"tier_part={tier}")
            partial: list = []
            for d, sub in _day_dirs(tier_dir, prefix="seg_day="):
                if seg_unit == "month":
                    nxt = (d.replace(day=1) + _dt.timedelta(days=32)).replace(
                        day=1
                    )
                    seg_end = nxt - _dt.timedelta(days=1)
                else:
                    seg_end = d
                if seg_end < cutoff:
                    gone.append(f"blob:{d}")
                    if not dry_run:
                        shutil.rmtree(os.path.join(tier_dir, sub))
                elif d < cutoff:
                    partial.append(_dt.datetime(d.year, d.month, d.day))
            deleted[tier] = gone
            reencoded[tier] = [str(p.date()) for p in partial]
            if partial and not dry_run:
                day_cells = self._day_cells(tier, partial)
                # a partial segment with NO surviving tier rows would be
                # untouched by the dynamic overwrite — drop it outright
                have = {
                    _segment_start(d, seg_unit)
                    for d, n in day_cells.items() if n
                }
                for p in [p for p in partial if p not in have]:
                    partial.remove(p)
                    reencoded[tier].remove(str(p.date()))
                    deleted[tier].append(f"blob:{p.date()}")
                    shutil.rmtree(os.path.join(tier_dir, f"seg_day={p.date()}"))
                if partial:
                    blobs, branches[tier] = self._encode_segments(
                        tier, day_cells
                    )
                    self._merge_partitions(
                        blobs, self.blobs_path, ["tier_part", "seg_day"],
                        "retention-reencode",
                    )
        metrics = MetricsLog(os.path.join(self.out, "metrics.jsonl"), new_job_id())
        metrics.log(
            "retention",
            now=str(now),
            dry_run=dry_run,
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

        self._heal_interrupted_swaps(self.turns_path)
        before = _count_files()
        df = self._read_turns()
        if days and not self._legacy_turns_days():
            days = [
                d.date() if hasattr(d, "date") else _dt.date.fromisoformat(str(d))
                for d in days
            ]
            df = self._day_filter("day", days)(df)
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
                    self._heal_interrupted_swaps(
                        os.path.join(self.blobs_path, sub)
                    )
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
