"""Deterministic synthetic fixtures (FIXTURES.md).

All generators are pure numpy with ``default_rng(seed)`` (matching the
reference's own convention, ``examples/04_tsfeatures_summary.ipynb`` /
``src/tsforge/plots/plot_correlation.py:66-69``) and return pandas frames
with µs timestamps.  ``transcripts_df`` is the engine's primary input
(BASELINE.json input_hint); sizes scale with ``n_convs`` so bench can
synthesize at any SF without external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

def transcripts_to_spark(spark, pdf: pd.DataFrame):
    """Create a transcript DataFrame with the canonical schema (explicit —
    an all-null ``tool`` column must not be inferred as BOOLEAN)."""
    from tsforge_spark.schema import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


_WORDS = np.array(
    "the a of to and in for on with by scan join agg window rollup tier "
    "bucket series turn tool spark plan shuffle partition codec delta "
    "gorilla stream state metric fold grid fill".split()
)
_TOOLS = np.array(
    ["bash", "read", "write", "edit", "grep", "glob", "web_search", "task"]
)
_ROLES = np.array(["user", "assistant"])


def make_transcripts(
    n_convs: int = 200,
    seed: int = 42,
    start: str = "2025-01-01",
    span_days: int = 14,
    mean_gap_s: float = 20.0,
    mean_turns: int = 50,
    zipf_a: float = 1.5,
    max_turns: int = 5000,
) -> pd.DataFrame:
    """Seeded transcript panel: Zipf turn counts (a few long
    conversations; at most ``max_turns``, so none reaches a 50,000-turn
    salt block), Poisson-ish exponential inter-turn gaps, and
    multi-hour silences in ~10% of conversations (empty 1m buckets →
    exercises gap fill).  ``(conv_id, turn_idx)`` unique; ``ts`` strictly
    increasing within a conversation ordered by ``turn_idx``.
    """
    rng = np.random.default_rng(seed)
    # Zipf-distributed turn counts, capped, min 3.
    raw = rng.zipf(zipf_a, size=n_convs).astype(np.int64)
    turns = np.clip(raw * max(mean_turns // 5, 1), 3, max_turns)
    total = int(turns.sum())

    conv_idx = np.repeat(np.arange(n_convs), turns)
    turn_idx = np.concatenate([np.arange(t) for t in turns]).astype(np.int32)

    start_us = np.datetime64(start, "us").astype(np.int64)
    span_us = int(span_days * 86400 * 1e6)
    conv_start = rng.integers(0, span_us, size=n_convs)

    gaps = rng.exponential(mean_gap_s * 1e6, size=total)
    # Multi-hour silences: in ~10% of conversations, one gap becomes 2-6 h.
    silent = rng.random(n_convs) < 0.10
    for ci in np.flatnonzero(silent):
        t = turns[ci]
        if t > 4:
            base = int(conv_idx.searchsorted(ci, "left"))
            pos = int(rng.integers(2, t - 1))
            gaps[base + pos] = rng.uniform(2 * 3600e6, 6 * 3600e6)
    # Cumulative gaps per conversation (reset at each conversation start).
    cum = np.cumsum(gaps)
    first_of_conv = np.concatenate([[0], np.cumsum(turns)[:-1]])
    cum = cum - np.repeat(cum[first_of_conv], turns)
    ts_us = start_us + np.repeat(conv_start, turns) + cum.astype(np.int64)

    roles = _ROLES[turn_idx % 2].copy().astype(object)
    is_tool = rng.random(total) < 0.15
    tool = np.where(is_tool, _TOOLS[rng.integers(0, len(_TOOLS), size=total)], None)

    # Deterministic per-turn text — the per-turn text-equality invariant
    # payload (BASELINE.json): reproducible purely from (conv_id, turn_idx).
    w = _WORDS[(conv_idx * 31 + turn_idx * 7) % len(_WORDS)]
    w2 = _WORDS[(conv_idx * 17 + turn_idx * 13) % len(_WORDS)]
    text = pd.Series(
        ["conv_%06d turn %d: %s %s" % (c, t, a, b)
         for c, t, a, b in zip(conv_idx, turn_idx, w, w2)],
        dtype=object,
    )

    df = pd.DataFrame(
        {
            "conv_id": pd.Series(["conv_%06d" % c for c in conv_idx], dtype=object),
            "turn_idx": turn_idx,
            "role": roles,
            "text": text,
            "tool": pd.Series(tool, dtype=object),
            "ts": ts_us.astype("datetime64[us]"),
        }
    )
    return df


def make_late_batch(base: pd.DataFrame, seed: int = 43, frac: float = 0.02) -> pd.DataFrame:
    """Out-of-order late-arrival batch: new turns for existing conversations
    with timestamps *earlier* than the conversation max (tests incremental
    re-fold, SURVEY.md §7.4.6).  Turn indexes continue past the existing max
    so ``(conv_id, turn_idx)`` stays unique.
    """
    rng = np.random.default_rng(seed)
    convs = base["conv_id"].unique()
    pick = convs[rng.random(len(convs)) < max(frac, 5.0 / len(convs))]
    g = base[base["conv_id"].isin(pick)].groupby("conv_id", sort=True)
    rows = []
    for cid, grp in g:
        max_idx = int(grp["turn_idx"].max())
        t0 = grp["ts"].min().value // 1000  # ns→µs
        t1 = grp["ts"].max().value // 1000
        n_new = int(rng.integers(1, 4))
        for j in range(n_new):
            ti = max_idx + 1 + j
            ts = int(rng.integers(t0, max(t1, t0 + 1)))
            rows.append(
                (cid, ti, "assistant", f"{cid} turn {ti}: late insert", None,
                 np.int64(ts))
            )
    out = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out["turn_idx"] = out["turn_idx"].astype(np.int32)
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out


def make_panel(
    n_ids: int = 12,
    n_days: int = 120,
    seed: int = 42,
    start: str = "2024-01-01",
    gap_frac: float = 0.10,
) -> pd.DataFrame:
    """Long-format daily panel in the tsforge canonical shape
    (``unique_id, ds, y, category, promo`` — FIXTURES.md §2): Poisson
    targets with zero runs, seeded gaps, injected spikes, one static and
    one dynamic covariate.
    """
    rng = np.random.default_rng(seed)
    dates = pd.date_range(start, periods=n_days, freq="D").astype("datetime64[us]")
    frames = []
    for i in range(n_ids):
        lam = rng.uniform(0.5, 20)
        y = rng.poisson(lam, size=n_days).astype(np.float64)
        # zero runs for intermittency
        z0 = int(rng.integers(0, n_days - 10))
        y[z0 : z0 + int(rng.integers(3, 10))] = 0.0
        # spikes (outliers)
        for _ in range(2):
            y[int(rng.integers(0, n_days))] += lam * 8 + 50
        keep = rng.random(n_days) > gap_frac
        promo = np.where(rng.random(n_days) < 0.3, rng.uniform(0, 1, n_days), np.nan)
        frames.append(
            pd.DataFrame(
                {
                    "unique_id": "series_%03d" % i,
                    "ds": dates[keep],
                    "y": y[keep],
                    "category": "cat_%d" % (i % 3),
                    "promo": promo[keep],
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def make_preds(panel: pd.DataFrame, seed: int = 42, h: int = 7, n_cutoffs: int = 3) -> pd.DataFrame:
    """Standardized prediction frame (FIXTURES.md §3): rolling-origin
    cutoffs, two workflows × two models, seeded noise and intervals.
    """
    rng = np.random.default_rng(seed)
    last = panel["ds"].max()
    step = pd.Timedelta(days=h)
    cutoffs = [last - step * (n_cutoffs - i) for i in range(n_cutoffs)]
    rows = []
    for wf, model in [("wf_a", "naive"), ("wf_a", "rmean"), ("wf_b", "naive")]:
        for co in cutoffs:
            test = panel[(panel["ds"] > co) & (panel["ds"] <= co + step)]
            noise = rng.normal(0, 2.0, size=len(test))
            width = np.abs(rng.normal(3, 1, size=len(test)))
            yhat = test["y"].to_numpy() + noise
            rows.append(
                pd.DataFrame(
                    {
                        "unique_id": test["unique_id"].to_numpy(),
                        "date": test["ds"].to_numpy(),
                        "cutoff": np.datetime64(co, "us"),
                        "y": test["y"].to_numpy(),
                        "yhat": yhat,
                        "lo_80": yhat - width,
                        "hi_80": yhat + width,
                        "workflow": wf,
                        "engine": "spark",
                        "model": model,
                    }
                )
            )
    return pd.concat(rows, ignore_index=True)


# --------------------------------------------------------------------------
# Distributed generator: pure hash-derived randomness (no rng objects), so
# every value depends only on (seed, conv_id, turn_idx) — deterministic
# regardless of partitioning/batching.  Used by bench at scales where
# driver-side pandas generation would bottleneck.


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def _u01(key: np.ndarray, salt: int, seed: int) -> np.ndarray:
    h = _splitmix64(key.astype(np.uint64) ^ np.uint64(salt * 0x9E3779B9 + seed))
    return (h >> np.uint64(11)).astype(np.float64) * (2.0**-53) + 2.0**-54


def gen_transcript_batch(
    cids: np.ndarray,
    seed: int = 42,
    start: str = "2025-01-01",
    span_days: int = 14,
    mean_gap_s: float = 20.0,
    mean_turns: int = 60,
    zipf_a: float = 1.5,
    max_turns: int = 5000,
) -> pd.DataFrame:
    """Generate the transcripts for a batch of conversation ids —
    vectorized numpy, identical output for a cid regardless of batching."""
    cids = cids.astype(np.int64)
    u = _u01(cids, 1, seed)
    # Pareto-tail turn counts (zipf-like): X = u^(-1/(a-1))
    raw = np.power(u, -1.0 / (zipf_a - 1.0))
    turns = np.clip(
        (raw * max(mean_turns // 5, 1)).astype(np.int64), 3, max_turns
    )
    total = int(turns.sum())
    conv_rep = np.repeat(cids, turns)
    turn_idx = (
        np.arange(total) - np.repeat(np.cumsum(turns) - turns, turns)
    ).astype(np.int32)

    key = conv_rep.astype(np.uint64) * np.uint64(1000003) + turn_idx.astype(
        np.uint64
    )
    gap_u = _u01(key, 2, seed)
    gaps = -mean_gap_s * 1e6 * np.log(gap_u)
    # multi-hour silences in ~10% of conversations at a hash-chosen turn
    silent = _u01(cids, 3, seed) < 0.10
    sil_pos = (2 + (_u01(cids, 4, seed) * np.maximum(turns - 3, 1)).astype(np.int64))
    sil_len = (2 * 3600e6 + _u01(cids, 5, seed) * 4 * 3600e6)
    sil_mask = np.repeat(silent, turns) & (turn_idx == np.repeat(sil_pos, turns))
    gaps = np.where(sil_mask, np.repeat(sil_len, turns), gaps)
    gaps[turn_idx == 0] = 0.0
    # integer-µs cumsum: float prefix sums are not batch-independent
    # (non-associative); integer arithmetic is exact
    cum = np.cumsum(gaps.astype(np.int64))
    firsts = np.cumsum(turns) - turns
    cum = cum - np.repeat(cum[firsts], turns)

    start_us = np.datetime64(start, "us").astype(np.int64)
    span_us = int(span_days * 86400 * 1e6)
    conv_start = (_u01(cids, 6, seed) * span_us).astype(np.int64)
    ts_us = start_us + np.repeat(conv_start, turns) + cum.astype(np.int64)

    roles = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    tool_u = _u01(key, 7, seed)
    tool_sel = (_u01(key, 8, seed) * len(_TOOLS)).astype(np.int64)
    tool = np.where(tool_u < 0.15, _TOOLS[tool_sel], None)

    w = _WORDS[(conv_rep * 31 + turn_idx * 7) % len(_WORDS)]
    w2 = _WORDS[(conv_rep * 17 + turn_idx * 13) % len(_WORDS)]
    text = [
        "conv_%08d turn %d: %s %s" % (c, t, a, b)
        for c, t, a, b in zip(conv_rep, turn_idx, w, w2)
    ]
    return pd.DataFrame(
        {
            "conv_id": ["conv_%08d" % c for c in conv_rep],
            "turn_idx": turn_idx,
            "role": roles,
            "text": pd.Series(text, dtype=object),
            "tool": pd.Series(tool, dtype=object),
            "ts": ts_us.astype("datetime64[us]"),
        }
    )


def make_transcripts_distributed(
    spark,
    n_convs: int,
    seed: int = 42,
    parts: int | None = None,
    **kwargs,
):
    """Transcript table generated ON THE EXECUTORS via mapInPandas —
    the only way to synthesize inputs at scales where the driver would
    bottleneck (and the pattern a 100 TB load test would use)."""
    from tsforge_spark.schema import TRANSCRIPT_SCHEMA

    parts = parts or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield gen_transcript_batch(pdf["id"].to_numpy(), seed=seed, **kwargs)

    return (
        spark.range(0, n_convs, numPartitions=parts)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )
