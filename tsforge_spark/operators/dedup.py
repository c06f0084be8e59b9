"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale notes:
- exact dedup = hash groupBy (one shuffle on the content hash);
- MinHash: per-doc signature is a map-side higher-order expression (no
  shuffle); LSH banding turns near-dup search into an equi-join on band
  keys — candidate pairs only, never the n² cross join;
- SimHash: per-bit majority over token hashes, again map-side;
- verification (exact Jaccard / cosine) runs only on LSH candidates.

All hashes are md5-derived so signatures are engine-portable and
oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsforge_spark.operators.text import tokens


def exact_dedup_clusters(df: DataFrame, key_cols: list[str], text_col: str) -> DataFrame:
    """Group identical content; emit one row per content hash with
    cluster size and canonical (min) key."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(key_cols[0]).alias("canonical_id"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: minhash family: ONE md5 per shingle (the expensive part), then k
#: cheap salted variants g_i(h) = (a_i*h + b_i) mod P over the 32-bit
#: base hash.  a_i < 2^30 and h < 2^32 keep a_i*h + b_i under 2^62 —
#: no overflow in either engine (DuckDB BIGINT arithmetic RAISES on
#: overflow rather than wrapping).  P is the largest prime < 2^32.
_MH_P = 4294967291
_MH_AB = (
    (968665207, 121),
    (780191747, 367),
    (586993909, 1033),
    (446744073, 2057),
    (334214467, 4099),
    (251732865, 8221),
    (172908517, 16417),
    (100000007, 32771),
)


def _base_hash(t: Column) -> Column:
    """First 32 bits of md5 as a long — engine-portable
    (DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def _mix_lambda(i: int):
    """Closure factory for use inside higher-order lambdas.  MUST be a
    factory — a ``lambda h, i=i: ...`` default param changes the lambda's
    arity and pyspark would pass the ELEMENT INDEX as ``i`` (silently
    corrupting the salts)."""
    a, b = _MH_AB[i]
    return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MH_P))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as strings (distinct).

    Built by zipping the token array with its own k−1 shifted copies —
    O(n·k) per document.  (A per-index ``slice`` is O(n²) per document
    and dominated the whole LSH pipeline.)  Shingle ORDER differs from a
    positional-slice construction but the SET is identical, and every
    consumer is order-independent (``array_min`` minhash, set Jaccard).
    """
    toks = tokens(text)
    n = F.size(toks)
    sh = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        # zip_with pads the shorter side with null; concat propagates it,
        # so tail entries (incomplete shingles) become null and drop below
        sh = F.zip_with(
            sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


def add_minhash(
    df: DataFrame, sh_col: str = "sh", k_hashes: int = 8, prefix: str = "mh"
) -> DataFrame:
    """Append map-side MinHash columns ``{prefix}0..{prefix}{k-1}`` to a
    frame carrying a shingle-array column — NO explode, NO shuffle.

    One ``transform`` pass computes the base md5 per shingle (the
    expensive part); the k signatures are ``array_min`` over cheap
    integer mixes of that hashed array.  The chained two-projection
    shape is load-bearing: the hashed-array alias is non-cheap and
    referenced k times, so CollapseProject keeps the barrier and the
    md5 work stays O(shingles), not O(shingles · k).  (An earlier
    explode+groupBy variant had the same md5 economy but paid a shuffle
    of every exploded shingle — pure map-side wins at any scale and the
    per-doc work is bounded by document length.)

    Docs with an empty shingle array get null signatures
    (``array_min([]) = null``)."""
    hashed = df.withColumn("_hs", F.transform(sh_col, _base_hash))
    return hashed.select(
        *df.columns,
        *[
            F.array_min(F.transform("_hs", _mix_lambda(i))).alias(
                f"{prefix}{i}"
            )
            for i in range(k_hashes)
        ],
    )


def minhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_hashes: int = 8,
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
    keep_all_ids: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature table (id, mh0..mh{k-1}) — map-side
    (see ``add_minhash``); same md5/integer-mix constants as every prior
    scheme, so signature VALUES (and the DuckDB oracle) are unchanged.

    ``keep_all_ids``: keep docs with no shingles (< shingle_k tokens) as
    null-signature rows; default drops them (the historical
    explode+groupBy semantics, which LSH banding relies on)."""
    src = (
        shingles
        if shingles is not None
        else shingle_table(df, id_col, text_col, shingle_k)
    )
    sig = add_minhash(src, "sh", k_hashes).select(
        id_col, *[f"mh{i}" for i in range(k_hashes)]
    )
    if not keep_all_ids:
        sig = sig.filter(F.col("mh0").isNotNull())
    return sig


def shingle_table(df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3) -> DataFrame:
    """Materializable (id, shingles) table — compute shingles ONCE and
    feed both the signature and the verification stages."""
    return df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k_hashes: int = 8, bands: int = 4, shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Band the signature (rows-per-band = k/bands), bucket-join docs
    sharing a band key → candidate pairs (id_a < id_b), deduplicated."""
    rows_per_band = k_hashes // bands
    sig = minhash_table(
        df, id_col, text_col, k_hashes, shingle_k, shingles=shingles
    )
    # One pass: a union of per-band frames would duplicate the signature
    # plan `bands` times (every mh column re-hashed per branch).  Build
    # all band keys as one array over the already-computed mh columns and
    # explode — each signature is derived exactly once per row.  The key
    # is the raw NUMERIC tuple (band_no, mh…), not a digest: candidate
    # membership only needs equality, so hashing the tuple through
    # md5(concat_ws(…)) bought nothing but 2·bands expression nodes per
    # row (the largest codegen unit left in this plan — Janino compile
    # was the bulk of the query's single-shot cost) plus a 32-char join
    # key where two longs + an int hash cheaper and checkpoint smaller.
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                *[
                    F.col(f"mh{b * rows_per_band + j}").alias(f"k{j}")
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    # materialize the band table before the self-join: it is tiny
    # (bands rows per doc, two narrow columns) and both join sides read
    # it.  localCheckpoint (not persist): checkpoint blocks are freed
    # when the frame is GC'd, so a long-lived session running the whole
    # catalog doesn't accumulate leaked cache entries.  Trade-off (applies
    # to every localCheckpoint in this repo): lineage is truncated to
    # executor-LOCAL blocks, which are not fault-tolerant — on a real
    # cluster an executor loss fails the query instead of recomputing.
    # Right for interactive/ad-hoc queries (rerun is cheap and bounded);
    # a long batch job on flaky infra should swap in reliable
    # checkpointing (sc.setCheckpointDir + .checkpoint()) at the cost of
    # a distributed-FS write.
    key_cols = ["band_no"] + [f"k{j}" for j in range(rows_per_band)]
    keyed = (
        sig.select(F.col(id_col), F.explode(band_keys).alias("bk"))
        .select(id_col, "bk.*")
        .localCheckpoint(eager=True)
    )
    a = keyed.alias("a")
    b_ = keyed.alias("b")
    pairs = (
        a.join(b_, on=key_cols)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification
    stage): |A∩B| / |A∪B|."""
    sh = shingles if shingles is not None else docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed("sh", "sh_a"), pairs["id_a"] == sh[id_col])
        .drop(id_col)
        .join(
            sh.withColumnRenamed("sh", "sh_b").withColumnRenamed(id_col, "_idb"),
            F.col("id_b") == F.col("_idb"),
        )
        .drop("_idb")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b", (inter / union).alias("jaccard")
    )


def add_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """Append a 16-bit SimHash column — single hash pass.

    Chained projections (the ``add_minhash`` pattern): (1) hash the
    distinct tokens once; (2) ONE ``aggregate`` over the hashed array
    accumulates all 16 bit-counts plus the token count into a 17-slot
    array (bit b of hash x via a Column-level mask AND — pyspark's
    ``shiftright`` only takes int literals, masks ride a zipped literal
    array); (3) assemble the majority bits from the counts array.  Each
    non-cheap alias is referenced many times by the NEXT projection, so
    CollapseProject keeps the barriers and every stage is evaluated
    once per row.  The expression-valued ``simhash16`` computes the
    same value but references its hash array 16× — higher-order
    functions are interpreted (no codegen CSE), so it pays 16 md5
    passes per row; use this frame-level form on hot paths.  Values are
    IDENTICAL (same counts, same majority rule), so oracles are
    unchanged."""
    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(16)],
        F.lit(0).cast("long"),
    )
    hashed = df.withColumn(
        "_sh_hashed",
        F.transform(
            F.array_distinct(tokens(F.col(text_col))),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast(
                "long"
            ),
        ),
    )
    counted = hashed.withColumn(
        "_sh_counts",
        F.aggregate(
            "_sh_hashed",
            F.array_repeat(F.lit(0).cast("long"), 17),
            lambda acc, x: F.zip_with(
                acc,
                masks,
                lambda a, m: a
                + F.when(m == 0, F.lit(1).cast("long")).otherwise(
                    (x.bitwiseAND(m) != 0).cast("long")
                ),
            ),
        ),
    )
    n = F.element_at("_sh_counts", 17)
    sim = None
    for b in range(16):
        bit = (F.element_at("_sh_counts", b + 1) * 2 >= n).cast("long")
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim + term
    return counted.select(*df.columns, sim.alias(out_col))


def simhash16(text: Column) -> Column:
    """16-bit SimHash: per-bit majority vote over md5 token hashes.

    Expression form (compatibility) — evaluates the hashed-token array
    once per bit (interpreted HOFs have no subexpression elimination);
    prefer the frame-level ``add_simhash`` on hot paths, which computes
    the identical value in one pass."""
    toks = F.array_distinct(tokens(text))
    hashed = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    sim = F.lit(0).cast("long")
    n = F.size(toks)

    def ones_at(b: int):
        # closure factory (see minhash_signature): keep the merge lambda
        # strictly 2-ary
        return F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda a, x: a + F.shiftright(x, b).bitwiseAND(F.lit(1)),
        )

    for b in range(16):
        bit = (ones_at(b) * 2 >= n).cast("long")
        sim = sim + F.shiftleft(bit, b)
    return sim


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Transitive closure over near-dup pairs → one cluster label per doc
    (label = min doc id in the connected component).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels — converges in
    O(component diameter) rounds, and near-dup components are shallow
    (pairs come from shared LSH bands, so diameters are small).  Each
    round is one join + one aggregate; lineage is truncated with
    ``localCheckpoint`` so long chains don't blow up the plan.  This is
    the standard big-graph CC shape (no GraphFrames dependency); output
    feeds canonical-doc selection (keep min id per cluster)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "label")
        new = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "_old"), "id")
            .filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new
        if not changed:
            break
    edges.unpersist()
    return labels.withColumnRenamed("label", "cluster_id")
