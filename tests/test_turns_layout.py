"""Turns-store layout: one ``day=`` directory level, every file holding
each conversation as one contiguous ``(ts, turn_idx)``-ordered run,
lineage counts taken from the write job, one layout sort in the write
plan, and a clear refusal of the old ``day=/bucket_id=`` layout."""

from __future__ import annotations

import os
import re

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tsforge_spark.fixtures import make_late_batch, make_transcripts, transcripts_to_spark
from tsforge_spark.plans.pipeline import RollupPipeline
from tsforge_spark.sources.snapshots import SnapshotStore

N_BUCKETS = 4
LAYOUT_SORT = (
    "[day ASC NULLS FIRST, xxhash64(conv_id, 42) ASC NULLS FIRST, "
    "conv_id ASC NULLS FIRST, ts ASC NULLS FIRST, turn_idx ASC NULLS FIRST]"
)


def _shuffled(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    # input rows out of (conv_id, turn_idx) order: the store's order must
    # come from the layout sort, not from the order rows arrive in
    return pdf.sample(frac=1, random_state=seed).reset_index(drop=True)


def _layout_problems(turns_path: str) -> list[str]:
    problems = []
    for sub in os.listdir(turns_path):
        path = os.path.join(turns_path, sub)
        if not os.path.isdir(path):
            continue
        if not sub.startswith("day="):
            problems.append(f"non-day directory {sub}")
            continue
        problems += [
            f"{sub}/{e} is a directory"
            for e in os.listdir(path)
            if os.path.isdir(os.path.join(path, e))
        ]
    return problems


def _order_problems(turns_path: str) -> list[str]:
    """Files where a conversation is split into several runs, or a run
    is out of ascending (ts, turn_idx) order."""
    problems = []
    for root, _dirs, files in os.walk(turns_path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(
                os.path.join(root, f), columns=["conv_id", "ts", "turn_idx"]
            ).to_pandas()
            run_starts = t["conv_id"].ne(t["conv_id"].shift())
            split = t.loc[run_starts, "conv_id"].duplicated()
            if split.any():
                problems.append(f"{f}: split runs {set(t.loc[run_starts, 'conv_id'][split])}")
            for cid, g in t.groupby("conv_id", sort=False):
                key = list(zip(g["ts"], g["turn_idx"]))
                if key != sorted(key):
                    problems.append(f"{f}: {cid} out of (ts, turn_idx) order")
    return problems


def _bucket_rows(spark, turns_path: str) -> dict[int, int]:
    return {
        r["bucket_id"]: r["count"]
        for r in spark.read.parquet(turns_path).groupBy("bucket_id").count().collect()
    }


def _write_plan(spark, path: str) -> str:
    """Physical plan of the most recent write job into ``path``, from the
    SQL status store (the plan that ran, including the writer's own
    required-ordering sort)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        if f"Arguments: file:{path}, false, [day" in desc:
            return desc
    raise AssertionError(f"no write into {path} in the status store")


def _sorts(plan: str) -> list[str]:
    """Sort keys of the plan that ran (AQE's final plan when present)."""
    tree = plan.split("\n\n(1) ")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ids = re.findall(r"\bSort \((\d+)\)", tree)
    keys = []
    for i in ids:
        detail = plan.split(f"\n({i}) Sort")[1]
        args = re.search(r"Arguments: (\[.*\]), ", detail).group(1)
        keys.append(re.sub(r"#\d+L?", "", args))
    return keys


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """A first run and an incremental run (late turns plus re-delivered
    keys) over shuffled input; records each run's store facts."""
    tmp = tmp_path_factory.mktemp("layout")
    base = make_transcripts(n_convs=40, seed=81)
    store = SnapshotStore(str(tmp / "store"))
    store.append(transcripts_to_spark(spark, _shuffled(base, 1)))
    pipe = RollupPipeline(spark, store, str(tmp / "out"), n_buckets=N_BUCKETS)
    out = {}
    before: dict[int, int] = {}
    plan_paths = {
        "first": pipe.turns_path,
        "incremental": pipe._stage_dir("ingest"),
    }
    for name in ("first", "incremental"):
        if name == "incremental":
            late = make_late_batch(base, seed=82)
            redelivered = base.sample(n=15, random_state=83)
            store.append(
                transcripts_to_spark(
                    spark, _shuffled(pd.concat([late, redelivered]), 2)
                )
            )
        res = pipe.run()
        assert res["status"] == "ok"
        rows = _bucket_rows(spark, pipe.turns_path)
        added = {b: n - before.get(b, 0) for b, n in rows.items()}
        before = rows
        lin = spark.read.parquet(pipe.lineage_path).filter(
            F.col("snapshot_id") == store.last_snapshot_id()
        )
        out[name] = {
            "turns": res["turns"],
            "layout": _layout_problems(pipe.turns_path),
            "order": _order_problems(pipe.turns_path),
            "added": {b: n for b, n in added.items() if n},
            "lineage": {
                r["bucket_id"]: r["row_count"] for r in lin.collect()
            },
            "sorts": _sorts(_write_plan(spark, plan_paths[name])),
        }
    return out


STAGES = ("first", "incremental")


@pytest.mark.parametrize("stage", STAGES)
def test_turns_store_has_only_day_directories(runs, stage):
    assert runs[stage]["layout"] == []


@pytest.mark.parametrize("stage", STAGES)
def test_turns_files_hold_contiguous_ordered_conversations(runs, stage):
    assert runs[stage]["order"] == []


@pytest.mark.parametrize("stage", STAGES)
def test_ingest_lineage_counts_match_rows_added(runs, stage):
    r = runs[stage]
    assert r["lineage"] == r["added"]
    assert sum(r["lineage"].values()) == r["turns"] > 0


@pytest.mark.parametrize("stage", STAGES)
def test_turns_write_plans_one_layout_sort(runs, stage):
    # the writer's required ordering (day) is a prefix of the layout
    # sort, so neither a writer sort nor a dropped layout sort appears
    assert runs[stage]["sorts"] == [LAYOUT_SORT]


def test_old_layout_store_refused_then_migrated(spark, tmp_path):
    """A store in the old day=/bucket_id= layout is never read as empty:
    run() names compact_turns() as the migration, and after it the
    pipeline converges to a full recompute."""
    import shutil

    base = make_transcripts(n_convs=20, seed=84)
    store = SnapshotStore(str(tmp_path / "store"))
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, str(tmp_path / "out"), n_buckets=N_BUCKETS)
    assert pipe.run()["status"] == "ok"
    old = str(tmp_path / "old_turns")
    spark.read.parquet(pipe.turns_path).write.partitionBy(
        "day", "bucket_id"
    ).parquet(old)
    shutil.rmtree(pipe.turns_path)
    os.replace(old, pipe.turns_path)

    # a day-level file beside bucket_id= directories makes the store
    # unlistable; that must surface, not read as "no history"
    mixed = str(tmp_path / "mixed")
    shutil.copytree(pipe.turns_path, mixed)
    day = sorted(d for d in os.listdir(mixed) if d.startswith("day="))[0]
    spark.read.parquet(pipe.turns_path).filter(
        F.col("day") == day.split("=")[1]
    ).drop("day").coalesce(1).write.parquet(str(tmp_path / "flat"))
    flat = [f for f in os.listdir(tmp_path / "flat") if f.endswith(".parquet")]
    shutil.copy(tmp_path / "flat" / flat[0], os.path.join(mixed, day, flat[0]))
    with pytest.raises(Exception, match="(?i)conflicting"):
        pipe._read_if_exists(mixed)

    late = make_late_batch(base, seed=85)
    store.append(transcripts_to_spark(spark, late))
    with pytest.raises(RuntimeError, match=r"compact_turns\(\)"):
        pipe.run()
    assert pipe.checkpoint()["last_snapshot_id"] == 1

    pipe.compact_turns(days=[day.split("=")[1]])  # always migrates whole
    assert _layout_problems(pipe.turns_path) == []
    assert _order_problems(pipe.turns_path) == []
    r = pipe.run()
    assert r["status"] == "ok" and r["turns"] == len(late)

    all_pdf = pd.concat([base, late], ignore_index=True)
    assert pipe.verify_text_equality(transcripts_to_spark(spark, all_pdf)) == 0
    full = RollupPipeline(
        spark, store, str(tmp_path / "out_full"), n_buckets=N_BUCKETS,
        dedup_against_history=False,
    )
    full.run()
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            pipe.read_tier(tier).toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True),
            full.read_tier(tier).toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True),
        )


def test_read_if_exists_sees_only_listable_data(spark, tmp_path):
    """A turns dir holding only a killed write's ``_temporary`` debris
    has no history (Spark hides it); one with listable files is read."""
    pipe = RollupPipeline(
        spark, SnapshotStore(str(tmp_path / "store")), str(tmp_path / "out")
    )
    spark.range(3).coalesce(1).write.parquet(str(tmp_path / "src"))
    part = next(
        f for f in os.listdir(tmp_path / "src") if f.endswith(".parquet")
    )
    debris = os.path.join(pipe.turns_path, "_temporary", "0", "day=2025-01-01")
    os.makedirs(debris)
    os.link(tmp_path / "src" / part, os.path.join(debris, part))
    assert pipe._read_if_exists(pipe.turns_path) is None
    os.makedirs(os.path.join(pipe.turns_path, "day=2025-01-01"))
    os.link(
        tmp_path / "src" / part,
        os.path.join(pipe.turns_path, "day=2025-01-01", part),
    )
    assert pipe._read_if_exists(pipe.turns_path).count() == 3
