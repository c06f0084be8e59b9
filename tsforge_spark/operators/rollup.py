"""Tumbling-window rollups and tier folding — the engine core.

Reference semantics: ``summarize_by_time`` groups by
``pd.Grouper(key=time_col, freq=...)`` plus optional extra keys and
applies str/list/dict aggs (``src/tsforge/feature_engineering/summarize.py:51-69``);
``resample_df`` re-aggregates per id at a coarser freq
(``src/tsforge/plots/core/preprocess.py:48-57``); ``aggregate_by_group``
rolls series up a hierarchy level (``src/tsforge/plots/core/preprocess.py:26-44``).

Spark-first realization: ``F.date_trunc`` bucket + ``groupBy().agg()``
(hash aggregate with map-side partial aggregation — one shuffle, no UDFs,
whole-stage codegen).  Tier tables carry *algebraic partials*
``(sum, count, min, max)`` so 1m→1h→1d folding is exact and cheap
(SURVEY.md §4.2.4): folding a coarser tier reads the finer tier only —
at 10^12 turns the 1h fold touches 1/60th of the rows a raw re-scan would.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_TRUNC = {
    "1m": "minute",
    "1h": "hour",
    "1d": "day",
    "1w": "week",
    "1mo": "month",
}
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucket_expr(ts_col: str, tier: str) -> Column:
    """Tumbling-window start for a tier.  ``date_trunc`` (not
    ``F.window``) so buckets align with calendar boundaries, stay a plain
    timestamp column (joinable, partition-prunable), and match ANSI-SQL
    ``date_trunc`` oracles exactly."""
    return F.date_trunc(TIER_TRUNC[tier], F.col(ts_col))


def rollup_transcripts(
    df: DataFrame, tier: str = "1m", text_len_col: str | None = None
) -> DataFrame:
    """Transcript turns → one tier of the conversation series table
    (schema.TIER_SCHEMA).  All measures are algebraic partials that fold
    exactly into coarser tiers.

    ``text_len_col``: use a precomputed length column instead of
    ``length(text)`` — a rebuild from a store that carries ``text_len``
    column-prunes the text payload entirely (the bulk of the bytes)."""
    tl = F.col(text_len_col) if text_len_col else F.length("text")
    return (
        df.groupBy(
            F.col("conv_id"), bucket_expr("ts", tier).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("turns"),
            F.count("tool").alias("tool_calls"),  # count() skips nulls
            F.count(F.when(F.col("role") == "user", 1)).alias("user_turns"),
            F.count(F.when(F.col("role") == "assistant", 1)).alias(
                "assistant_turns"
            ),
            F.coalesce(F.sum(tl), F.lit(0)).alias("text_chars"),
            F.min(tl).alias("chars_min"),
            F.max(tl).alias("chars_max"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


_SUM_COLS = ["turns", "tool_calls", "user_turns", "assistant_turns", "text_chars"]


def fold_tier(finer: DataFrame, to_tier: str) -> DataFrame:
    """Fold a finer tier table into a coarser one using only the stored
    partials — the continuous-aggregate core (mean = Σsum/Σcount holds
    exactly; min/max/count/sum are associative)."""
    aggs = [F.sum(c).alias(c) for c in _SUM_COLS]
    aggs += [
        F.min("chars_min").alias("chars_min"),
        F.max("chars_max").alias("chars_max"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    ]
    return finer.groupBy(
        F.col("conv_id"), bucket_expr("bucket", to_tier).alias("bucket")
    ).agg(*aggs)


def summarize_by_time(
    df: DataFrame,
    time_col: str,
    freq: str,
    by: list[str] | None = None,
    aggs: dict[str, list[str]] | None = None,
) -> DataFrame:
    """General tumbling rollup with flattened ``{col}_{fn}`` names —
    the reference's ``summarize_by_time`` MultiIndex-flatten contract
    (``feature_engineering/summarize.py:63-69``).

    ``freq`` is a tier key ('1m','1h','1d','1w','1mo').  ``aggs`` maps
    value column → list of {sum, mean, min, max, count, median, std}.
    """
    by = by or []
    aggs = aggs or {}
    fn_map = {
        "sum": F.sum,
        "mean": F.avg,
        "avg": F.avg,
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "std": F.stddev_samp,
        "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
    }
    exprs = []
    for col, fns in aggs.items():
        for fn in fns:
            exprs.append(fn_map[fn](col).alias(f"{col}_{fn}"))
    if not exprs:
        exprs = [F.count(F.lit(1)).alias("n")]
    keys = [F.col(c) for c in by] + [bucket_expr(time_col, freq).alias("bucket")]
    return df.groupBy(*keys).agg(*exprs)


def aggregate_by_group(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    agg: str = "sum",
) -> DataFrame:
    """Hierarchy rollup: collapse series to a coarser grouping level at
    the same time resolution (``plots/core/preprocess.py:26-44``)."""
    fn = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max}[agg]
    return df.groupBy(group_col, time_col).agg(fn(value_col).alias(value_col))

