"""Tier rollup vs a pandas oracle re-implementing the reference
``summarize_by_time`` semantics (``feature_engineering/summarize.py:51-69``:
groupby Grouper(freq) + agg), and exact tier-fold identities."""

from __future__ import annotations

import pandas as pd

from tsforge_spark.operators.rollup import (
    fold_tier,
    rollup_transcripts,
    summarize_by_time,
)

FREQ = {"1m": "min", "1h": "h", "1d": "D"}


def pandas_tier_oracle(pdf: pd.DataFrame, tier: str) -> pd.DataFrame:
    g = pdf.groupby(
        ["conv_id", pd.Grouper(key="ts", freq=FREQ[tier])], sort=True
    )
    out = g.agg(
        turns=("turn_idx", "size"),
        tool_calls=("tool", "count"),
        user_turns=("role", lambda r: (r == "user").sum()),
        assistant_turns=("role", lambda r: (r == "assistant").sum()),
        text_chars=("text", lambda t: t.str.len().sum()),
        chars_min=("text", lambda t: t.str.len().min()),
        chars_max=("text", lambda t: t.str.len().max()),
        first_ts=("ts", "min"),
        last_ts=("ts", "max"),
    ).reset_index()
    return out.rename(columns={"ts": "bucket"})


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["conv_id", "bucket"], kind="mergesort").reset_index(
        drop=True
    )
    for c in ("bucket", "first_ts", "last_ts"):
        pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    for c in ("turns", "tool_calls", "user_turns", "assistant_turns",
              "text_chars", "chars_min", "chars_max"):
        pdf[c] = pdf[c].astype("int64")
    return pdf[
        ["conv_id", "bucket", "turns", "tool_calls", "user_turns",
         "assistant_turns", "text_chars", "chars_min", "chars_max",
         "first_ts", "last_ts"]
    ]


def test_tier_1m_matches_pandas_oracle(spark, transcripts, transcripts_pdf):
    got = normalize(rollup_transcripts(transcripts, "1m").toPandas())
    want = normalize(pandas_tier_oracle(transcripts_pdf, "1m"))
    pd.testing.assert_frame_equal(got, want)


def test_fold_1h_equals_direct_1h(spark, transcripts, transcripts_pdf):
    """Folding the 1m tier must equal rolling up raw turns at 1h —
    the continuous-aggregate exactness property (SURVEY.md §4.2.4)."""
    t1m = rollup_transcripts(transcripts, "1m")
    folded = normalize(fold_tier(t1m, "1h").toPandas())
    direct = normalize(rollup_transcripts(transcripts, "1h").toPandas())
    pd.testing.assert_frame_equal(folded, direct)
    # and the pandas oracle agrees
    want = normalize(pandas_tier_oracle(transcripts_pdf, "1h"))
    pd.testing.assert_frame_equal(folded, want)


def test_fold_1d_from_1h_equals_direct(spark, transcripts):
    t1h = fold_tier(rollup_transcripts(transcripts, "1m"), "1h")
    folded = normalize(fold_tier(t1h, "1d").toPandas())
    direct = normalize(rollup_transcripts(transcripts, "1d").toPandas())
    pd.testing.assert_frame_equal(folded, direct)


def test_summarize_by_time_names_and_values(spark, transcripts, transcripts_pdf):
    out = summarize_by_time(
        transcripts.selectExpr("conv_id", "ts", "length(text) as chars"),
        time_col="ts",
        freq="1h",
        by=["conv_id"],
        aggs={"chars": ["sum", "mean", "max", "count"]},
    ).toPandas()
    assert set(out.columns) == {
        "conv_id", "bucket", "chars_sum", "chars_mean", "chars_max", "chars_count"
    }
    want = (
        transcripts_pdf.assign(chars=transcripts_pdf["text"].str.len())
        .groupby(["conv_id", pd.Grouper(key="ts", freq="h")])["chars"]
        .agg(["sum", "mean", "max", "count"])
        .reset_index()
    )
    got = out.sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    want = want.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert (got["chars_sum"].to_numpy() == want["sum"].to_numpy()).all()
    assert abs(got["chars_mean"].to_numpy() - want["mean"].to_numpy()).max() < 1e-9

