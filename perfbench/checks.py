"""Correctness checks and the codec kernel probe, run outside the timed
units.  Each check returns a list of problems; an empty list passes.

Tier and blob stores are read with pyarrow in this process, so the checks
do not go through the Spark paths they verify.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tsforge_spark.codec.blobs import SEGMENT_TRUNC
from tsforge_spark.codec.gorilla import decode_blobs_many, decode_series, encode_blobs_batch

TIERS = ("1m", "1h", "1d")
MEASURES = ("turns", "tool_calls")
_TRUNC_UNIT = {"day": "D", "month": "M"}


def _read(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Parquet store as pandas (all data columns when ``columns`` is
    None), timestamps as integer µs since the epoch and strings as plain
    ``str``."""
    t = pq.read_table(path, columns=columns, coerce_int96_timestamp_unit="us", partitioning=None)
    cols = {}
    for name in t.column_names:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
        elif pa.types.is_dictionary(c.type):
            c = c.cast(pa.string())
        cols[name] = c.to_numpy()
    return pd.DataFrame(cols)


def load_tier(out: str, tier: str) -> pd.DataFrame:
    """Tier cells sorted by (conv_id, segment, bucket) — the order blobs
    are cut in — with integer-µs ``bucket`` and ``segment``."""
    t = _read(os.path.join(out, "tiers", tier), ["conv_id", "bucket", *MEASURES])
    unit = _TRUNC_UNIT[SEGMENT_TRUNC[tier]]
    seg = t["bucket"].to_numpy().astype("datetime64[us]").astype(f"datetime64[{unit}]")
    t["segment"] = seg.astype("datetime64[us]").astype(np.int64)
    return t.sort_values(["conv_id", "segment", "bucket"], kind="mergesort", ignore_index=True)


def load_blobs(out: str) -> pd.DataFrame:
    return _read(
        os.path.join(out, "blobs"),
        ["conv_id", "segment", "tier", "measure", "n_points", "blob_bytes", "blob"],
    )


def _chunks(cells: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    conv = cells["conv_id"].to_numpy()
    seg = cells["segment"].to_numpy()
    change = np.ones(len(cells), dtype=bool)
    change[1:] = (conv[1:] != conv[:-1]) | (seg[1:] != seg[:-1])
    starts = np.flatnonzero(change)
    return starts, np.append(starts[1:], len(cells))


def tier_turn_sums(out: str, n_turns: int) -> list[str]:
    """Every tier's ``turns`` column sums to the input row count."""
    problems = []
    for tier in TIERS:
        col = pq.read_table(os.path.join(out, "tiers", tier), columns=["turns"])["turns"]
        total = int(col.to_numpy().sum())
        if total != n_turns:
            problems.append(f"tier {tier}: turns sum {total} != input {n_turns}")
    return problems


def blob_sample(out: str, seed: int, n: int = 64) -> list[str]:
    """A seeded sample of blobs decodes bit-exactly to its tier cells."""
    blobs = load_blobs(out)
    pick = blobs.sample(n=min(n, len(blobs)), random_state=seed)
    problems = []
    for tier, grp in pick.groupby("tier"):
        cells = load_tier(out, tier).set_index(["conv_id", "segment"]).sort_index()
        for row in grp.itertuples():
            want = cells.loc[(row.conv_id, row.segment)]
            ts, vals = decode_series(row.blob)
            if not (
                np.array_equal(ts, want["bucket"].to_numpy())
                and np.array_equal(vals, want[row.measure].to_numpy(np.float64))
            ):
                problems.append(f"blob {tier}/{row.conv_id}/{row.segment}/{row.measure} differs")
    return problems


def codec_kernels(out: str) -> dict:
    """Time the numpy codec kernels alone on arrays taken from the built
    tiers, single-threaded, and check them against the stored blobs:
    ``encode_blobs_batch`` must reproduce every stored blob byte for byte
    and ``decode_blobs_many`` must give back the tier cells bit-exactly.

    Returns thread-CPU seconds for each kernel, the points and blob bytes
    covered, and a list of problems."""
    stored = load_blobs(out).set_index(["tier", "conv_id", "segment", "measure"])["blob"]
    enc_s = dec_s = 0.0
    points = blob_bytes = n_blobs = 0
    problems = []
    for tier in TIERS:
        cells = load_tier(out, tier)
        starts, ends = _chunks(cells)
        ts_all = cells["bucket"].to_numpy()
        vals = {m: cells[m].to_numpy(np.float64) for m in MEASURES}
        t0 = time.thread_time()
        fresh = encode_blobs_batch(ts_all, starts, ends, vals)
        enc_s += time.thread_time() - t0
        conv = cells["conv_id"].to_numpy()[starts]
        seg = cells["segment"].to_numpy()[starts]
        n_blobs += len(starts) * len(MEASURES)
        for m in MEASURES:
            keys = pd.MultiIndex.from_arrays([[tier] * len(starts), conv, seg, [m] * len(starts)])
            want = stored.reindex(keys)
            if want.isna().any() or list(want) != fresh[m]:
                problems.append(f"tier {tier} {m}: kernel blobs differ from the stored blobs")
                continue
            t0 = time.thread_time()
            ts, dec, _lens = decode_blobs_many(list(want))
            dec_s += time.thread_time() - t0
            if not (np.array_equal(ts, ts_all) and np.array_equal(dec, vals[m])):
                problems.append(f"tier {tier} {m}: decoded points differ from the tier cells")
            points += len(ts_all)
            blob_bytes += sum(len(b) for b in fresh[m])
    if n_blobs == 0 or n_blobs != len(stored):
        problems.append(f"{len(stored)} stored blobs for {n_blobs} tier chunks")
    return {
        "encode_kernel_s": enc_s,
        "decode_kernel_s": dec_s,
        "points": points,
        "blob_bytes": blob_bytes,
        "problems": problems,
    }


def tiers_equal(out_a: str, out_b: str) -> list[str]:
    """Every tier of two pipeline outputs holds the same cells."""
    problems = []
    for tier in TIERS:
        a, b = (_read(os.path.join(o, "tiers", tier)) for o in (out_a, out_b))
        a, b = (f.sort_values(["conv_id", "bucket"], ignore_index=True) for f in (a, b))
        if not a.equals(b[a.columns]):
            problems.append(f"tier {tier} differs")
    return problems


def frames_equal(a, b) -> bool:
    """Two Spark frames hold the same multiset of rows."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
