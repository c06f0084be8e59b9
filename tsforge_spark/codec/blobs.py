"""Tier table ⇄ Gorilla blob table.

One blob per ``(conv_id, segment, measure)`` where ``segment`` truncates
the bucket to a chunk window (day for the 1m tier, month for 1h/1d).
Segment chunking is also the skew control for the grouped kernel
(SURVEY.md §7.4.4): a group can never exceed the segment's bucket count
(1440 points for 1m/day), so one hot conversation can't create a straggler
``applyInPandas`` task no matter how many turns it has.

The kernels are whole-group numpy (codec/gorilla.py) on Arrow batches —
no per-row Python.
"""

from __future__ import annotations

import datetime as _dt
import os as _os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsforge_spark.codec.gorilla import decode_blobs_many, encode_blobs_batch

SEGMENT_TRUNC = {"1m": "day", "1h": "month", "1d": "month"}

# the tier columns every blob row encodes, one blob per measure
MEASURES = ("turns", "tool_calls")

# decode-kernel sub-batch cap (bytes of blob payload per
# decode_blobs_many call) — see _decode_frames.  It also bounds a
# driver-side read: read_series decodes on the driver only when the
# pruned files' total bytes fit it.
DECODE_CHUNK_BYTES = 64 << 20


BLOB_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("segment", T.TimestampType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("measure", T.StringType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("blob_bytes", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)

# the blob store as Spark lists it: the file columns, then the
# ``tier_part=<t>/seg_day=<d>/`` partition columns.  Reads pass it
# explicitly so Spark runs no schema-inference job per read.
BLOB_READ_SCHEMA = T.StructType(
    BLOB_SCHEMA.fields
    + [
        T.StructField("tier_part", T.StringType(), True),
        T.StructField("seg_day", T.DateType(), True),
    ]
)

# the blob columns a decode reads
SERVE_COLS = ("conv_id", "measure", "blob")

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("measure", T.StringType(), False),
        T.StructField("bucket", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

DECODED_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("measure", pa.string()),
        ("bucket", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)


def _default_n_buckets(parallelism: int, cells_hint: int | None) -> int:
    """Encode-bucket count: ~4 waves of groups per core (packs
    Pareto-skewed group sizes without per-group overhead dominating),
    AND — when the caller can bound the cell count cheaply — at most
    ~2M cells per group.  A bucket's group loads WHOLE into one pandas
    frame, and cells/bucket grows with data at fixed parallelism, so
    without the cap a full-history rebuild at 100× data OOMs the
    executors instead of just adding waves.  The pipeline passes each
    tier slice's cell count, read from the tier's parquet footers."""
    n = max(parallelism * 4, 16)
    if cells_hint is not None:
        n = max(n, int(cells_hint) // 2_000_000)
    return n


def encodes_on_driver(spark, cells_hint: int | None) -> bool:
    """Whether ``encode_tier_blobs`` encodes a slice of at most
    ``cells_hint`` cells on the driver: only a bounded slice small
    enough to cross the Python boundary as ONE Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch``) does."""
    if cells_hint is None:
        return False
    batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    return 0 < batch and int(cells_hint) <= batch


_BLOB_COLS = [f.name for f in BLOB_SCHEMA]


def _encode_frame(pdf: pd.DataFrame, tier: str) -> pd.DataFrame:
    """Tier cells (``conv_id``, ``bucket``, ``segment``, ``MEASURES``)
    → blob rows.  The encode body of both ``encode_tier_blobs``
    branches."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_BLOB_COLS)
    pdf = pdf.sort_values(["conv_id", "segment", "bucket"], kind="mergesort")
    ts_all = pdf["bucket"].to_numpy("datetime64[us]").astype(np.int64)
    seg_all = pdf["segment"].to_numpy("datetime64[us]").astype(np.int64)
    conv_all = pdf["conv_id"].to_numpy()
    # boundary detection: new blob where conv or segment changes
    change = np.empty(len(pdf), dtype=bool)
    change[0] = True
    change[1:] = (conv_all[1:] != conv_all[:-1]) | (seg_all[1:] != seg_all[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(pdf))
    vals_by_m = {m: pdf[m].to_numpy(dtype=np.float64) for m in MEASURES}
    # ONE vectorized pass encodes every chunk in the batch (timestamp
    # streams shared across measures); per-blob work is just a header
    # pack + slices — tier cells at coarse grains average a handful of
    # points per segment, so per-chunk numpy calls would dominate
    blob_lists = encode_blobs_batch(ts_all, starts, ends, vals_by_m)
    n_pts = (ends - starts).astype(np.int64)
    conv_b = conv_all[starts]
    seg_b = pdf["segment"].iloc[starts].to_numpy()
    rows = []
    for j in range(len(starts)):
        n = int(n_pts[j])
        for m in MEASURES:
            blob = blob_lists[m][j]
            rows.append((conv_b[j], seg_b[j], tier, m, n, n * 16, len(blob), blob))
    return pd.DataFrame(rows, columns=_BLOB_COLS)


def encode_tier_blobs(
    tier_df: DataFrame, tier: str, cells_hint: int | None = None
) -> DataFrame:
    """Encode tier cells into per-(conv, segment, measure) blobs.

    ``cells_hint`` is an upper bound on the number of rows (cells) in
    ``tier_df``; ``None`` means unknown.  It picks the branch, and both
    run the same encode body (``_encode_frame``) and return the same
    rows, byte for byte:

    - **Driver**, when the hint is at most the session's
      ``spark.sql.execution.arrow.maxRecordsPerBatch`` (a slice that
      would cross the Python boundary as one Arrow batch anyway): the
      projected cells are collected with ``toPandas()`` (one JVM-only
      job, the same session time-zone conversion ``applyInPandas``
      applies), encoded here, and returned as a local DataFrame in one
      partition, so a partitioned write lays out one file per partition.
      The kernel encodes a batch in milliseconds; the executor round
      trip this skips costs most of a second per slice.
    - **Spark**, otherwise: ``groupBy(_enc_bucket).applyInPandas``.
      Grouping by (conv, segment) directly would create one Arrow batch
      per blob — millions of tiny groups whose per-group overhead
      dwarfs the encode — so rows group by a hash bucket (a few large
      groups per core; the hint also caps cells per group, see
      ``_default_n_buckets``), sort inside the kernel and split on
      (conv, segment) boundaries with numpy: the inner loop runs once
      per *blob*, never per row.  Bucketing also bounds task skew: a hot
      conversation's segments spread across its bucket's single sort,
      not a straggler group.  This is the branch that scales.
    """
    spark = tier_df.sparkSession
    segment = F.date_trunc(SEGMENT_TRUNC[tier], F.col("bucket")).alias("segment")
    if encodes_on_driver(spark, cells_hint):
        pdf = tier_df.select("conv_id", "bucket", *MEASURES, segment).toPandas()
        out = _encode_frame(pdf, tier)
        return spark.createDataFrame(out, BLOB_SCHEMA).coalesce(1)

    n_buckets = _default_n_buckets(
        spark.sparkContext.defaultParallelism, cells_hint
    )
    with_seg = tier_df.select(
        "conv_id",
        "bucket",
        *MEASURES,
        segment,
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
        .cast("int")
        .alias("_enc_bucket"),
    )  # narrow projection: only these columns cross the Arrow boundary
    return with_seg.groupBy("_enc_bucket").applyInPandas(
        lambda pdf: _encode_frame(pdf, tier), schema=BLOB_SCHEMA
    )


def read_series(
    spark,
    blobs_path: str,
    tier: str,
    t0,
    t1,
    conv_ids: list[str] | None = None,
    measures: tuple[str, ...] | None = None,
) -> DataFrame:
    """Serving read path over the blob store: fetch decoded series for a
    time range (and optionally a conversation / measure set) touching
    only the relevant partitions.

    ``t0``/``t1`` are inclusive instants; naive values are UTC (the
    engine's UTC-µs contract, and what PySpark makes of a naive literal
    on a UTC host), aware values are converted to UTC.  Returned
    ``bucket`` values are the same instants under any session time zone.

    Pruning order, mirroring the store layout
    ``blobs/tier_part=<t>/seg_day=<d>/``:
    1. ``tier_part`` + ``seg_day`` partition pruning, on the driver by
       listing the directories (a day query on the 1m tier lists one);
    2. blob-row filters on ``conv_id`` / ``measure`` (parquet row-group
       stats prune before payload bytes are read);
    3. decode only the surviving blobs, then the exact ``bucket`` range
       filter on the decoded points (a blob spans a whole segment, so
       edge segments decode fully — bounded by one segment per side).

    Where the decode runs depends on the pruned files' total bytes:
    when they fit the decode budget (``DECODE_CHUNK_BYTES``) the
    driver reads them with ``pyarrow.dataset``, decodes them and wraps
    the points in a local DataFrame — no Spark job until the caller acts
    on it, and then one.  Larger reads decode on the executors through
    ``mapInPandas`` (one job).  Both run the same decode body and return
    the same rows.
    """
    t0, t1 = _utc_instant(t0), _utc_instant(t1)
    month = SEGMENT_TRUNC[tier] == "month"
    lo, hi = (
        t.date().replace(day=1) if month else t.date() for t in (t0, t1)
    )
    files = _pruned_files(blobs_path, tier, lo, hi)
    if sum(size for _, size in files) <= DECODE_CHUNK_BYTES:
        return _read_series_local(
            spark, [f for f, _ in files], t0, t1, conv_ids, measures
        )
    df = spark.read.schema(BLOB_READ_SCHEMA).parquet(blobs_path).filter(
        (F.col("tier_part") == tier)
        & (F.col("seg_day") >= lo)
        & (F.col("seg_day") <= hi)
    )
    if conv_ids is not None:
        df = df.filter(F.col("conv_id").isin(list(conv_ids)))
    if measures is not None:
        df = df.filter(F.col("measure").isin(list(measures)))
    return decode_blobs(df).filter(
        (F.col("bucket") >= F.lit(t0)) & (F.col("bucket") <= F.lit(t1))
    )


def _utc_instant(t) -> _dt.datetime:
    """``t`` as an aware UTC datetime; naive input is taken as UTC."""
    ts = pd.Timestamp(t)
    ts = ts.tz_localize("UTC") if ts.tz is None else ts.tz_convert("UTC")
    return ts.to_pydatetime()


def _pruned_files(
    blobs_path: str, tier: str, lo: _dt.date, hi: _dt.date
) -> list[tuple[str, int]]:
    """``(path, bytes)`` of the parquet files in the ``seg_day`` partitions
    of ``tier`` within ``[lo, hi]``.  Names starting with ``_`` or ``.``
    (``.crc`` files, ``_temporary`` and ``.trash_*`` swap directories)
    are skipped, as Spark's listing skips them; a segment a crash left
    under ``.trash_*`` mid-swap is restored first
    (``heal_interrupted_swaps``)."""
    if not _os.path.isdir(blobs_path):
        raise FileNotFoundError(f"blob store {blobs_path} does not exist")
    tier_dir = _os.path.join(blobs_path, f"tier_part={tier}")
    heal_interrupted_swaps(tier_dir)
    if not _os.path.isdir(tier_dir):
        return []
    out = []
    for part in sorted(_os.scandir(tier_dir), key=lambda e: e.name):
        if not (part.is_dir() and part.name.startswith("seg_day=")):
            continue
        if not lo <= _dt.date.fromisoformat(part.name[len("seg_day="):]) <= hi:
            continue
        for f in sorted(_os.scandir(part.path), key=lambda e: e.name):
            if (
                f.is_file()
                and f.name.endswith(".parquet")
                and not f.name.startswith(("_", "."))
            ):
                out.append((f.path, f.stat().st_size))
    return out


def heal_interrupted_swaps(target: str) -> None:
    """Recover partitions from a swap interrupted between its two
    renames: a leftover ``.trash_<sub>`` dir whose ``<sub>`` is missing
    means the old partition was renamed away but the new one never
    landed — restore it (the replay recompute then overwrites it
    normally).  A leftover WITH ``<sub>`` present is post-install debris
    — drop it.  The pipeline runs this before every swap into
    ``target``, and serving reads (``read_series``,
    ``RollupPipeline.read_blobs``) run it before they list ``target``,
    so a read after a crash sees the pre-swap bytes rather than a
    missing partition.

    Every filesystem op tolerates concurrent mutation (OSError → skip):
    a serving reader may run this while a live writer is inside its
    two-rename window, and the reader 'restoring' that in-flight trash
    dir must never fail the writer's commit — the writer's own
    pre-commit heal (under its subtree ownership) is the authoritative
    one; the reader's is best-effort so a post-crash read sees the
    pre-swap bytes."""
    if not _os.path.isdir(target):
        return
    try:
        entries = _os.listdir(target)
    except OSError:
        return
    for t in entries:
        if not t.startswith(".trash_"):
            continue
        orig = _os.path.join(target, t[len(".trash_"):])
        tr = _os.path.join(target, t)
        try:
            if _os.path.exists(orig):
                shutil.rmtree(tr, ignore_errors=True)
            else:
                _os.replace(tr, orig)
        except OSError:
            # lost the race with the writer (it re-installed orig or
            # removed the trash between our check and the rename) — the
            # writer's state is the correct one; leave it alone
            continue


def _read_series_local(
    spark, files: list[str], t0, t1, conv_ids, measures
) -> DataFrame:
    """The driver-side branch of ``read_series``: read and decode
    ``files`` here and return the points as a local DataFrame."""
    tables = []
    if files:
        flt = None
        for col, keep in (("conv_id", conv_ids), ("measure", measures)):
            if keep is not None:
                cond = ds.field(col).isin(list(keep))
                flt = cond if flt is None else flt & cond
        blobs = (
            ds.dataset(files, format="parquet")
            .to_table(columns=list(SERVE_COLS), filter=flt)
            .to_pandas()
        )
        for pdf in _decode_frames([blobs]):
            pdf = pdf[(pdf["bucket"] >= t0) & (pdf["bucket"] <= t1)]
            tables.append(
                pa.Table.from_pandas(
                    pdf, schema=DECODED_ARROW_SCHEMA, preserve_index=False
                )
            )
    table = (
        pa.concat_tables(tables) if tables
        else DECODED_ARROW_SCHEMA.empty_table()
    )
    return spark.createDataFrame(table, schema=DECODED_SCHEMA)


def _split_by_bytes(pdf: pd.DataFrame, cap: int):
    """Yield consecutive row slices of ``pdf`` whose cumulative blob
    bytes stay ≈ ``cap`` each (always ≥1 row per slice; one slice when
    the whole frame fits)."""
    sizes = pdf["blob"].map(len).to_numpy(dtype=np.int64)
    total = int(sizes.sum())
    if total <= cap:
        yield pdf
        return
    cuts = np.searchsorted(
        np.cumsum(sizes), np.arange(cap, total, cap)
    )
    prev = 0
    for c in list(cuts) + [len(pdf)]:
        c = min(max(int(c), prev + 1), len(pdf))
        if prev < len(pdf):
            yield pdf.iloc[prev:c]
        prev = c


def _decode_frames(frames):
    """Blob frames (``conv_id``, ``measure``, ``blob``) → decoded point
    frames.  The decode body of both ``read_series`` branches and of
    ``decode_blobs``.

    Bounds peak kernel memory per sub-batch: the vectorized decoder
    concatenates every blob in its input into one buffer, so a 64k-row
    Arrow batch of DENSE blobs (1m day segments, ~10KB each) would join
    ~700MB before decoding.  Split on cumulative blob bytes; coarse-tier
    batches (~20B/blob) pass through as one chunk."""
    for full in frames:
        if len(full) == 0:
            continue
        yield from map(_decode_one, _split_by_bytes(full, DECODE_CHUNK_BYTES))


def _decode_one(pdf: pd.DataFrame) -> pd.DataFrame:
    # Whole-chunk vectorized decode (codec/gorilla.py
    # decode_blobs_many): headers parse as one structured-dtype
    # view, chains resolve as segmented scans — no per-blob Python.
    # A per-blob decode_series loop here paid ~6µs fixed cost per
    # blob, which at ~1 point/blob on the 1h/1d stores capped
    # serving at 168k points/s.
    ts, vals, lens = decode_blobs_many(list(pdf["blob"]))
    # id columns go out dictionary-encoded: repeating int32 codes +
    # one small category table beats materializing sum(n)
    # Python-string refs and re-encoding them to Arrow (the string
    # repeat was ~half the task-side cost at ~1 point/blob; Arrow
    # passes the dictionary through and Spark reads it as a plain
    # string column).  Buckets go out tz-aware UTC: Spark would take
    # naive values as session-local wall times and shift them by the
    # session zone's offset.
    return pd.DataFrame(
        {
            "conv_id": pd.Categorical(pdf["conv_id"]).repeat(lens),
            "measure": pd.Categorical(pdf["measure"]).repeat(lens),
            "bucket": pd.Series(ts.astype("datetime64[us]")).dt.tz_localize("UTC"),
            "value": vals,
        }
    )


def decode_blobs(blob_df: DataFrame) -> DataFrame:
    """Blob table → long decoded series (for verification / serving)."""
    return blob_df.select(*SERVE_COLS).mapInPandas(
        _decode_frames, schema=DECODED_SCHEMA
    )
