"""Cluster entry point for the rollup pipeline.

Run via spark-submit (the north-rule deployment shape;
tools/submit_example.sh does both steps)::

    bash tools/package_pyfiles.sh          # builds dist/tsforge_spark.zip
    spark-submit --py-files dist/tsforge_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        tools/submit_rollup.py --store /path/to/snapshot-store \
        --out /path/to/engine-output [--n-buckets 256]

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally this falls back to ``local[*]``.  The engine confs
(``session.ENGINE_CONFS``) are applied here, so the submit command
passes none of them.  The job is incremental + resumable:
re-submitting after failure or new snapshots continues from the
checkpoint.  ``--demo-convs N`` first seeds an empty store with N
deterministic demo conversations, so the example is self-contained.
Prints one JSON line with the run result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local-mode convenience: when run as a plain script, python puts tools/
# on sys.path, not the repo root; on a cluster --py-files handles this
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--store", required=True, help="snapshot store directory")
    p.add_argument("--out", required=True, help="engine output directory")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument(
        "--retention", default=None,
        help="per-tier max age in days after the rollup, e.g. "
             "'1m=30,1h=180' (omitted tiers are kept forever)",
    )
    p.add_argument(
        "--demo-convs", type=int, default=None,
        help="seed an empty store with this many demo conversations first",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from tsforge_spark.plans.pipeline import RollupPipeline
    from tsforge_spark.session import ENGINE_CONFS
    from tsforge_spark.sources.snapshots import SnapshotStore

    builder = SparkSession.builder.appName("tsforge-rollup")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    # stop the session before exit: a driver that exits with executors
    # still registered leaves a standalone master relaunching them
    try:
        store = SnapshotStore(args.store)
        if args.demo_convs and store.last_snapshot_id() == 0:
            from tsforge_spark.fixtures import (
                make_transcripts,
                transcripts_to_spark,
            )

            demo = make_transcripts(args.demo_convs, seed=42)
            store.append(transcripts_to_spark(spark, demo))
        pipe = RollupPipeline(spark, store, args.out, n_buckets=args.n_buckets)
        result = pipe.run()
        if args.retention:
            policy = {
                k: int(v)
                for k, v in (kv.split("=") for kv in args.retention.split(","))
            }
            result["retention"] = pipe.enforce_retention(policy)
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
