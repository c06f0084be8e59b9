"""Recipe/Workflow layer + Structured Streaming tier rollup."""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

from tsforge_spark.operators.rollup import rollup_transcripts
from tsforge_spark.plans.recipe import Recipe, Workflow, WorkflowManager
from tsforge_spark.streaming.stream import run_stream_to_parquet


def test_recipe_is_lazy_composition(spark, panel):
    calls = []
    r = (
        Recipe("clean")
        .add_step(lambda df: df.filter(F.col("y") >= 0), "nonneg")
        .add_step(lambda df: df.withColumn("y2", F.col("y") * 2), "double")
    )
    out = r.bake(panel, on_step=lambda name, df: calls.append(name))
    assert calls == ["nonneg", "double"]
    assert "y2" in out.columns
    # lazy: baking added no jobs until an action
    assert out.filter("y2 != y * 2").count() == 0


def test_workflow_cv_shapes(spark, panel, panel_pdf):
    wf1 = Workflow("wf_mean").with_model("naive_mean", window=7).build()
    wf2 = Workflow("wf_last").with_model("naive_last").build()
    mgr = WorkflowManager()
    preds = mgr.cross_validation(panel, [wf1, wf2], n_windows=2, step_days=7)
    pdf = preds.toPandas()
    assert set(pdf["workflow"]) == {"wf_mean", "wf_last"}
    assert pdf["cutoff"].nunique() == 2
    # horizon rows per (id, workflow, cutoff)
    per = pdf.groupby(["workflow", "cutoff", "unique_id"]).size()
    assert (per == 7).all()
    # truth joined where test rows exist
    assert pdf["y"].notna().sum() > 0


def test_streaming_tier_matches_batch(spark, transcripts, transcripts_pdf, tmp_path):
    in_path = str(tmp_path / "in")
    transcripts.write.mode("overwrite").parquet(in_path)
    q = run_stream_to_parquet(
        spark, in_path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        tier="1h", watermark="0 seconds",
    )
    q.awaitTermination(120)
    # append mode only emits CLOSED windows: the window containing the
    # global max event time stays open when the stream ends — exclude it
    # from the comparison (that's the documented watermark semantic).
    horizon = transcripts_pdf["ts"].max().floor("h")
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("bucket") < F.lit(horizon))
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        rollup_transcripts(transcripts, "1h")
        .filter(F.col("bucket") < F.lit(horizon))
        .toPandas()
        .sort_values(["conv_id", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["turns"].astype("int64"), want["turns"].astype("int64")
    )
    pd.testing.assert_series_equal(
        got["text_chars"].astype("int64"), want["text_chars"].astype("int64")
    )


def test_stateful_conversation_tracker(spark, transcripts, transcripts_pdf, tmp_path):
    from tsforge_spark.streaming.stateful import conversation_tracker
    from tsforge_spark.streaming.stream import read_transcript_stream

    in_path = str(tmp_path / "sin")
    transcripts.write.mode("overwrite").parquet(in_path)
    tracked = conversation_tracker(
        read_transcript_stream(spark, in_path, max_files_per_trigger=2)
    )
    q = (
        tracked.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "sout"))
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # the processing-time timeout keeps this availableNow query alive
    # with a no-data batch per trigger (see conversation_tracker), so
    # stop it once every input row has been consumed
    consumed: dict[int, int] = {}
    deadline = time.monotonic() + 180
    while q.isActive and sum(consumed.values()) < len(transcripts_pdf):
        assert time.monotonic() < deadline, consumed
        time.sleep(0.5)
        consumed.update(
            (p["batchId"], p["numInputRows"]) for p in q.recentProgress
        )
    q.stop()
    assert q.exception() is None
    assert sum(consumed.values()) == len(transcripts_pdf)
    out = spark.read.parquet(str(tmp_path / "sout")).toPandas()
    # the LAST update per conversation carries the full totals
    last = (
        out[out.event == "update"]
        .sort_values("turns")
        .groupby("conv_id")
        .tail(1)
        .set_index("conv_id")
    )
    want = transcripts_pdf.groupby("conv_id").agg(
        turns=("turn_idx", "size"), tool_calls=("tool", "count")
    )
    assert len(last) == len(want)
    assert (last["turns"].sort_index() == want["turns"].sort_index()).all()
    assert (
        last["tool_calls"].sort_index() == want["tool_calls"].sort_index()
    ).all()


def test_stream_dedup_within_watermark(spark, transcripts, transcripts_pdf, tmp_path):
    """Duplicated input stream → dropDuplicatesWithinWatermark on the
    (conv_id, turn_idx) contract key restores exactly-once turns."""
    from tsforge_spark.streaming.stream import read_transcript_stream, stream_dedup_turns

    in_path = str(tmp_path / "dup_in")
    # write the same snapshot twice: every turn arrives duplicated
    transcripts.write.mode("overwrite").parquet(in_path)
    transcripts.write.mode("append").parquet(in_path)
    deduped = stream_dedup_turns(
        read_transcript_stream(spark, in_path, max_files_per_trigger=64),
        watermark="1 hour",
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "dup_out"))
        .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "dup_out")).toPandas()
    assert len(out) == len(transcripts_pdf)
    assert not out.duplicated(subset=["conv_id", "turn_idx"]).any()
