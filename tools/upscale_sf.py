"""Build a local sf1.0-scale replica of an sf dir by replicating each
table K times with key offsets, for MEASUREMENT ONLY (the driver's own
sf1.0 is regenerated on its side; this replica just reproduces the same
row counts and single-row-group parquet layout so scale behavior of the
catalog queries can be validated locally).

Key handling preserves join semantics: every replica shifts the
id-spaces (user/event/doc/vec/order/cust/part/supp keys) by rep*stride
so ids stay unique and FK joins stay 1:1 with the original fan-out.
Documents get a per-replica token appended to ``text`` (kills
cross-replica MinHash collisions that the real generator would not
have); embeddings get a deterministic per-replica perturbation on one
coordinate (keeps vectors distinct across replicas).  vec_id 0 (the ANN
query vector) stays unique to replica 0.

Usage: python tools/upscale_sf.py SRC_DIR DST_DIR K
"""
from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDE = 10_000_000


def load(src: str, name: str) -> pa.Table:
    return pq.read_table(f"{src}/{name}.parquet")


def write(dst: str, name: str, tab: pa.Table) -> None:
    # pyarrow default row-group size (1Mi rows) — matches the observed
    # driver layout (sf0.1: every table 1 RG at <=600k rows; sf1.0:
    # events 1M rows / 1 RG per the round-8 plan audit)
    pq.write_table(tab, f"{dst}/{name}.parquet")


def shift(tab: pa.Table, col: str, off: int) -> pa.Table:
    i = tab.schema.get_field_index(col)
    arr = pa.compute.add(tab.column(col), off)
    return tab.set_column(i, col, arr.cast(tab.schema.field(col).type))


def check_stride(tab: pa.Table, cols: list[str]) -> None:
    """Replica ``rep`` shifts keys by ``rep * STRIDE``, so a key at or
    above STRIDE would collide with the next replica's id space."""
    for c in cols:
        top = pa.compute.max(tab.column(c)).as_py()
        if top is not None and top >= STRIDE:
            raise ValueError(f"{c}: max key {top} >= STRIDE {STRIDE}")


def main() -> None:
    src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    import os
    os.makedirs(dst, exist_ok=True)

    for name in ("region", "nation"):
        write(dst, name, load(src, name))

    plain_shifts = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
    }
    for name, cols in plain_shifts.items():
        base = load(src, name)
        check_stride(base, cols)
        reps = []
        for rep in range(k):
            t = base
            for c in cols:
                t = shift(t, c, rep * STRIDE)
            reps.append(t)
        write(dst, name, pa.concat_tables(reps))
        print(name, "->", k * base.num_rows, "rows", flush=True)

    base = load(src, "documents")
    check_stride(base, ["doc_id"])
    reps = []
    for rep in range(k):
        t = shift(base, "doc_id", rep * STRIDE)
        if rep:
            # suffix every word so every 3-word shingle differs across
            # replicas (cross-replica Jaccard ~0, like genuinely
            # distinct generator output); shingle count per doc unchanged
            txt = pa.compute.replace_substring_regex(
                t.column("text").cast(pa.string()),
                pattern=r"(\S+)", replacement=rf"\1~{rep}")
            t = t.set_column(t.schema.get_field_index("text"), "text", txt)
        reps.append(t)
    write(dst, "documents", pa.concat_tables(reps))
    print("documents ->", k * base.num_rows, "rows", flush=True)

    base = load(src, "embeddings")
    check_stride(base, ["vec_id"])
    emb = np.vstack([np.asarray(x, dtype=np.float32)
                     for x in base.column("embedding").to_pylist()])
    reps = []
    for rep in range(k):
        t = shift(base, "vec_id", rep * STRIDE)
        if rep:
            e = emb.copy()
            e[:, rep % e.shape[1]] += 1e-3 * rep
            lst = pa.array(list(e), type=base.schema.field("embedding").type)
            t = t.set_column(t.schema.get_field_index("embedding"),
                             "embedding", lst)
        reps.append(t)
    write(dst, "embeddings", pa.concat_tables(reps))
    print("embeddings ->", k * base.num_rows, "rows", flush=True)


if __name__ == "__main__":
    main()
