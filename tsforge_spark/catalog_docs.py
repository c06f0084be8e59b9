"""Catalog batch 2: training-data operators over ``documents`` /
``embeddings`` — dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force + IVF), text analysis
(lang-ID, quality, token counts, fingerprint).

Oracle exactness: all hashing is md5-derived (portable); cosine math is
element-indexed double arithmetic in identical order on both sides;
near-tie float ordering is avoided by deterministic id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tsforge_spark.operators.dedup import (
    exact_dedup_clusters,
    lsh_candidate_pairs,
    ngram_jaccard,
    simhash16,
)
from tsforge_spark.operators.similarity import brute_force_topk, cosine
from tsforge_spark.operators.text import (
    STOPWORDS,
    add_fingerprint,
    add_lang_id,
    add_quality_score,
    token_count_bpe_ish,
    token_count_ws,
)


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------------ text


def q_text_quality(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return add_quality_score(d).select(
        "doc_id", "n_words", "n_punct", "stop_ratio", "quality_score"
    )


def q_token_counts(spark, sf_dir):
    """Token counting (ws + BPE-ish regex) + order-insensitive document
    fingerprint, one map-side pass per doc."""
    d = _read(spark, sf_dir, "documents")
    return add_fingerprint(d).select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens_ws"),
        token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        "fingerprint",
    )


def q_lang_id(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    out = add_lang_id(d)
    return out.select(
        "doc_id", "lang", "pred_lang",
        *[F.col(f"hits_{lg}") for lg in sorted(STOPWORDS)],
    )


# ----------------------------------------------------------------- dedup


def q_dedup_clusters(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return exact_dedup_clusters(d, ["doc_id"], "text")


def q_minhash_signatures(spark, sf_dir):
    """Per-doc near-dup signatures: 4-hash MinHash + 16-bit SimHash in
    ONE map-side pass — zero shuffles, zero joins (``add_minhash``
    appends ``array_min``-of-integer-mix columns over a single
    base-md5 ``transform`` of the shingle array; same constants as the
    historical explode+groupBy scheme, so values and oracle are
    unchanged)."""
    from tsforge_spark.operators.dedup import (
        add_minhash,
        add_simhash,
        word_shingles,
    )

    d = _read(spark, sf_dir, "documents")
    base = add_simhash(d.select("doc_id", "text"), "text").select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh"), "simhash"
    )
    return add_minhash(base, "sh", k_hashes=4).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3", "simhash"
    )


def q_minhash_lsh_jaccard(spark, sf_dir):
    """Full near-dup pipeline: MinHash → LSH banding → candidate pairs →
    exact shingle-Jaccard verification; keep pairs with jaccard ≥ 0.2.

    One base md5 per shingle feeds the signature (integer-mix
    variants, minhash_table) and the bands key on the raw numeric
    (band_no, mh…) tuples — no digest at all — so the cold-plan Janino
    codegen pays for ONE md5 tree total; data cost scales with
    docs×shingles, not pairs."""
    from tsforge_spark.operators.dedup import shingle_table

    from tsforge_spark.operators.partitioning import kernel_repartition

    d = _read(spark, sf_dir, "documents")
    # shingles computed once, shared by the signature and verification
    # stages; localCheckpoint blocks are GC-cleaned (persist leaked
    # cache entries across the 50-query bench session).  Not
    # fault-tolerant — see the trade-off note in
    # operators/dedup.lsh_candidate_pairs
    #
    # kernel_repartition first: a single-row-group documents file scans
    # as ONE split, and the whole shingle+md5 map-side pipeline (the
    # query's dominant cost — measured 4.6s shingles + 2.3s signatures
    # at sf1.0) ran serially in that one task, as did everything
    # downstream of the one-partition checkpoint.  Hash on doc_id,
    # 2·cores+1 user-numbered partitions (AQE-exempt): the shuffle
    # moves only the raw (doc_id, text) rows once, before any derived
    # work, and at scale (many input files) it simply rebalances.
    sh = shingle_table(
        kernel_repartition(d.select("doc_id", "text"), "doc_id"),
        "doc_id", "text",
    ).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(
        d, "doc_id", "text", k_hashes=8, bands=4, shingles=sh
    )
    # Broadcast the candidate-pair list into the verification joins
    # (round 8): the pairs table is two longs per LSH candidate —
    # inherently far smaller than the corpus — while the probe side
    # carries the heavy shingle ARRAYS.  Without the hint both
    # verification joins shuffled the array payload (guide §8's rule:
    # move the lightweight proxy, not the heavy bytes); measured
    # 2.07s → 0.57s at sf1.0.  Hinted at the catalog level, not inside
    # ngram_jaccard: a deployment whose candidate set outgrows a
    # broadcast keeps the generic shuffled operator.
    jac = ngram_jaccard(F.broadcast(pairs), d, "doc_id", "text", shingles=sh)
    return jac.filter(F.col("jaccard") >= 0.2)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup blocked by IVF cell assignment (the
    scale path: candidate pairs only form inside a cell, never across
    the full n²), cosine ≥ 0.30 (threshold fits the synthetic embedding
    spread).

    Cell count SCALES WITH DATA: k = max(16, ceil(sqrt(n))), centroids
    the k lowest-id vectors (deterministic, so the DuckDB oracle can
    replicate the assignment relationally).  sqrt-scaling balances the
    two quadratic terms — assignment work n·k and within-cell pairs
    n²/k both grow as n^1.5 instead of n² (a web-scale deployment adds
    a coarse-to-fine hierarchical assignment on top; the relational
    shape below is unchanged).  Assignment is a broadcast join against
    the k-row centroid table + a map-side-combined ``max_by`` argmax —
    no k-literal expression trees, so codegen stays O(1) in k.
    Measured warm data cost ~4s at sf0.1 with the old fixed-16 layout;
    the sqrt-k layout cuts within-cell pairs ~3x at that scale."""
    import math

    from tsforge_spark.operators.partitioning import kernel_repartition
    from tsforge_spark.operators.similarity import dot, norm

    # norms are precomputed ONCE per vector and reused across every
    # centroid score and every candidate pair — higher-order-function
    # expressions are interpreted (no codegen), so an O(dim) norm
    # recomputed n·k + pairs times was most of this query's data cost.
    # The value is the identical IEEE chain, so the oracle is unchanged.
    #
    # kernel_repartition (round 8): a single-row-group embeddings file
    # scans as ONE split, so the n·k assignment scores and the
    # within-cell pair scores all ran serially — 17.5s of this query's
    # 22.1s at sf1.0.  Hashing vec_id across 2·cores+1 user-numbered
    # partitions (AQE-exempt) parallelizes the broadcast-NLJ probe and
    # everything downstream of the checkpoint for one tiny shuffle of
    # the raw vectors (measured: assignment 17.5s → 0.98s, pairs
    # 1.3s unchanged).  Values are untouched — same rows, same math.
    e = kernel_repartition(
        _read(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        ),
        "vec_id",
    ).withColumn("nrm", norm(F.col("e")))
    # n from the parquet FOOTER (Iceberg: the snapshot's manifest row
    # count) — the sqrt-k sizing needs only the table cardinality, and
    # a full count() action here was a whole extra Spark job.  The
    # driver-local footer read only works for local filesystem paths,
    # so a storage error (s3/hdfs sf_dir, unreadable footer) falls back
    # to e.count() — correct everywhere, one extra job.
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    try:
        files = _pq.ParquetDataset(f"{sf_dir}/embeddings.parquet").files
        n = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, _pa.ArrowException):
        n = e.count()
    k = max(16, math.ceil(math.sqrt(n)))
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    scored = e.join(F.broadcast(cents)).withColumn(
        "sim", dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    )
    # argmax cosine, ties to the lowest centroid id; partial max_by
    # combines map-side so the shuffle carries n rows, not n*k
    cells = scored.groupBy("vec_id").agg(
        F.expr("max_by(cid, struct(sim, -cid))").alias("cell")
    )
    # materialize the assignment once for both self-join sides;
    # localCheckpoint blocks are GC-cleaned (a bare persist leaks cache
    # entries across the 50-query bench session); fault-tolerance
    # trade-off documented in operators/dedup.lsh_candidate_pairs
    assigned = (
        e.join(cells, "vec_id")
        .select("vec_id", "e", "nrm", "cell")
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("va"),
        F.col("nrm").alias("na"),
        F.col("cell").alias("blk"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("cell").alias("blk"),
    )
    # Size-gated broadcast of the build side (round 8): the checkpoint
    # hides accurate stats from the planner, so the cell self-join
    # defaulted to a shuffle join of both sides.  n is already known
    # exactly from the footers — when the assigned table (vectors +
    # norms) fits comfortably in a broadcast, hint it and the pair
    # stage loses its exchange+sort entirely (measured 1.41s → 0.54s
    # at sf1.0).  Over the gate the shuffled cell join stays — that is
    # the 100-TB shape; this is the same size-based pick AQE would
    # make if it could see through the checkpoint.
    if n * (64 * 8 + 64) < (64 << 20):
        b = F.broadcast(b)
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 9).alias("cos_sim")
    ).filter(F.col("cos_sim") >= 0.30)


# ------------------------------------------------------------ similarity


def _query_vec(spark, sf_dir, vid=0):
    e = _read(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") == vid).collect()[0]["embedding"]


def q_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-10 neighbors of vec_id=0 (excluded)."""
    e = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    q = _query_vec(spark, sf_dir, 0)
    out = brute_force_topk(e, q, 10)
    return out.select("vec_id", F.round("cosine", 9).alias("cos_sim"))


def q_ann_ivf(spark, sf_dir):
    """IVF top-10: centroids = vec_ids 0..15, probe the 2 nearest cells.

    Assignment is RELATIONAL (broadcast join + max_by argmax,
    ``similarity.assign_cells_relational``) — the former 16-literal
    cosine expression tree dominated this query's single-shot timing
    with Janino codegen and would grow with the centroid count; only
    probe selection touches the driver (16 rows).  Same argmax
    tiebreak as ``assign_cells`` → same cells → oracle unchanged."""
    import numpy as np

    from tsforge_spark.operators.similarity import (
        _lit_vec,
        assign_cells_relational,
    )

    e = _read(spark, sf_dir, "embeddings")
    cent_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    # the query vector (vec_id=0) is already in the centroid collect —
    # a separate _query_vec() action was a whole redundant Spark job.
    # Fail loudly if vec_id 0 is ever absent (the old _query_vec
    # raised on a miss; silently using the wrong row would return
    # plausible-but-wrong neighbors).
    if not cent_rows or cent_rows[0][0] != 0:
        raise ValueError(
            "q_ann_ivf: query vector vec_id=0 missing from embeddings"
        )
    q = cent_rows[0][1]
    qv = np.asarray(q, dtype=np.float64)

    def cos_np(c):
        c = np.asarray(c, dtype=np.float64)
        return float(c @ qv / (np.linalg.norm(c) * np.linalg.norm(qv)))

    probe_ids = [
        cid for cid, _ in sorted(cent_rows, key=lambda c: -cos_np(c[1]))[:2]
    ]
    cents_df = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    # kernel_repartition (round 8): the single-row-group embeddings
    # file scans as ONE split, so the n·16 assignment scores ran
    # serially (most of this query's 4.7s at sf1.0); hashing vec_id
    # across 2·cores+1 user-numbered partitions parallelizes them for
    # one tiny shuffle of the raw vectors.  Values untouched.
    from tsforge_spark.operators.partitioning import kernel_repartition

    assigned = assign_cells_relational(
        kernel_repartition(e.filter(F.col("vec_id") != 0), "vec_id"),
        cents_df,
    )
    cand = assigned.filter(F.col("cell").isin(probe_ids))
    scored = cand.select(
        "vec_id",
        "cell",
        cosine(F.col("embedding").cast("array<double>"), _lit_vec(q)).alias(
            "cosine"
        ),
    )
    out = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)
    return out.select("vec_id", "cell", F.round("cosine", 9).alias("cos_sim"))


# ----------------------------------------------------------------- SQL

_TOKS = "list_filter(string_split(lower(text), ' '), x -> x != '')"


def _sql_stophits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKS}, t -> list_contains([{words}], t)))"
    )


ORACLES_DOCS: dict[str, str] = {}

ORACLES_DOCS["text_quality"] = f"""
    WITH b AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({_TOKS}) AS n_words,
             len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
             {_sql_stophits('en')} AS n_stop
      FROM documents)
    SELECT doc_id, n_words, n_punct,
           n_stop / CAST(n_words AS DOUBLE) AS stop_ratio,
           (CASE WHEN n_words >= 5 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_stop / CAST(n_words AS DOUBLE) >= 0.01
                    AND n_stop / CAST(n_words AS DOUBLE) <= 0.6 THEN 0.25 ELSE 0.0 END
            + CASE WHEN n_punct / CAST(n_chars AS DOUBLE) <= 0.2 THEN 0.25 ELSE 0.0 END
            + CASE WHEN (n_chars - n_words + 1) / CAST(n_words AS DOUBLE) >= 2
                    AND (n_chars - n_words + 1) / CAST(n_words AS DOUBLE) <= 12
                   THEN 0.25 ELSE 0.0 END) AS quality_score
    FROM b
"""

ORACLES_DOCS["token_counts"] = f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_tokens_bpe,
           CAST(list_sum(list_transform({_TOKS},
                t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)) % 2147483647
                AS BIGINT) AS fingerprint
    FROM documents
"""


def _langid_sql() -> str:
    langs = sorted(STOPWORDS)
    hits = ",\n             ".join(
        f"{_sql_stophits(lg)} AS hits_{lg}" for lg in langs
    )
    cases = []
    for lg in langs:
        conds = [f"hits_{lg} > 0"]
        for other in langs:
            if other == lg:
                continue
            op = ">=" if other > lg else ">"
            conds.append(f"hits_{lg} {op} hits_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    cols = ", ".join(f"hits_{lg}" for lg in langs)
    return f"""
    WITH b AS (
      SELECT doc_id, lang,
             {hits}
      FROM documents)
    SELECT doc_id, lang, {case_sql} AS pred_lang, {cols}
    FROM b
"""


ORACLES_DOCS["lang_id"] = _langid_sql()

ORACLES_DOCS["dedup_clusters"] = """
    SELECT md5(text) AS content_hash,
           count(*) AS cluster_size,
           min(doc_id) AS canonical_id
    FROM documents GROUP BY 1
"""

_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 2, 0) + 1), "
    f"i -> array_to_string({_TOKS}[i:i+2], ' ')))"
)


def _mh_expr(i: int, shingles: str = "sh") -> str:
    # mirrors operators/dedup: one base md5 per shingle, integer-mix
    # salted variant i (same constants, same modulus)
    from tsforge_spark.operators.dedup import _MH_AB, _MH_P

    a, b = _MH_AB[i]
    return (
        f"list_min(list_transform({shingles}, "
        f"s -> ({a} * ('0x' || substr(md5(s), 1, 8))::BIGINT + {b}) % {_MH_P}))"
    )


def _simhash_bits(tok_list: str = "tk") -> str:
    return " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform({tok_list}, "
        f"t -> (('0x' || substr(md5(t), 1, 8))::BIGINT >> {b}) & 1)) "
        f">= len({tok_list}) THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )


ORACLES_DOCS["minhash_signatures"] = f"""
    WITH s AS (SELECT doc_id, {_SHINGLES} AS sh,
                      list_distinct({_TOKS}) AS tk
               FROM documents)
    SELECT doc_id,
           {_mh_expr(0)} AS mh0, {_mh_expr(1)} AS mh1,
           {_mh_expr(2)} AS mh2, {_mh_expr(3)} AS mh3,
           CAST({_simhash_bits()} AS BIGINT) AS simhash
    FROM s
"""


def _lsh_sql() -> str:
    mh = ",\n           ".join(f"{_mh_expr(i)} AS mh{i}" for i in range(8))
    bands = []
    for b in range(4):
        c0, c1 = b * 2, b * 2 + 1
        bands.append(
            f"SELECT doc_id, {b} AS band_no, mh{c0} AS k0, mh{c1} AS k1 "
            "FROM sig"
        )
    band_union = " UNION ALL ".join(bands)
    return f"""
    WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    sig AS (SELECT doc_id,
           {mh}
    FROM s),
    keyed AS ({band_union}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.band_no = b.band_no AND a.k0 = b.k0 AND a.k1 = b.k1
      WHERE a.doc_id < b.doc_id),
    j AS (
      SELECT p.id_a, p.id_b,
             len(list_intersect(sa.sh, sb.sh))
                 / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                 AS jaccard
      FROM pairs p
      JOIN s sa ON p.id_a = sa.doc_id
      JOIN s sb ON p.id_b = sb.doc_id)
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2
"""


ORACLES_DOCS["minhash_lsh_jaccard"] = _lsh_sql()


_COS = (
    "list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * b.e[i]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * a.e[i]::DOUBLE))) * "
    "sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i]::DOUBLE * b.e[i]::DOUBLE))))"
)

def _neardup_sql() -> str:
    # relational twin of the data-scaled IVF assignment: k =
    # max(16, ceil(sqrt(n))) lowest-id centroids, argmax cosine via
    # row_number (ties to the lowest cid, matching Spark's max_by
    # tiebreak), then pairs within a cell only
    sim = (
        "list_sum(list_transform(range(1, 65), i -> v.e[i]::DOUBLE * c.ce[i]::DOUBLE)) / "
        "(sqrt(list_sum(list_transform(range(1, 65), i -> v.e[i]::DOUBLE * v.e[i]::DOUBLE))) * "
        "sqrt(list_sum(list_transform(range(1, 65), i -> c.ce[i]::DOUBLE * c.ce[i]::DOUBLE))))"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
    nk AS (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM v),
    cents AS (SELECT vec_id AS cid, e AS ce FROM v, nk WHERE vec_id < nk.k),
    scored AS (SELECT v.vec_id, c.cid, {sim} AS sim FROM v, cents c),
    arg AS (SELECT vec_id, cid AS cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid ASC) AS rn
            FROM scored),
    av AS (SELECT v.vec_id, v.e, arg.cell
           FROM arg JOIN v USING (vec_id) WHERE arg.rn = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS}, 9) AS cos_sim
    FROM av a JOIN av b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round({_COS}, 9) >= 0.30
"""


ORACLES_DOCS["embedding_neardup"] = _neardup_sql()

ORACLES_DOCS["ann_bruteforce"] = f"""
    WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id != 0)
    SELECT a.vec_id, round({_COS.replace('b.e', 'q.e')}, 9) AS cos_sim
    FROM v a, (SELECT e FROM q) q
    ORDER BY {_COS.replace('b.e', 'q.e')} DESC, a.vec_id ASC
    LIMIT 10
"""


def _ivf_sql() -> str:
    cos_ab = _COS
    # argmax via list_position(sims, list_max(sims)) — mirrors
    # similarity.assign_cells (first max wins)
    sims = ("list_transform(range(1, 17), k -> "
            "list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * cl[k][i]::DOUBLE)) / "
            "(sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * a.e[i]::DOUBLE))) * "
            "sqrt(list_sum(list_transform(range(1, 65), i -> cl[k][i]::DOUBLE * cl[k][i]::DOUBLE)))))")
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS e FROM embeddings
                   WHERE vec_id < 16),
    cl_t AS (SELECT list(e ORDER BY cid) AS cl, list(cid ORDER BY cid) AS cids
             FROM cents),
    q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT a.cid FROM cents a, (SELECT e FROM q) b
              ORDER BY {cos_ab} DESC, a.cid ASC LIMIT 2),
    assigned AS (
      SELECT a.vec_id, a.e,
             t.cids[list_position({sims}, list_max({sims}))] AS cell
      FROM (SELECT vec_id, embedding AS e FROM embeddings) a, cl_t t),
    cand AS (SELECT * FROM assigned
             WHERE cell IN (SELECT cid FROM probe) AND vec_id != 0)
    SELECT a.vec_id, a.cell, round({cos_ab.replace("b.e", "q.e")}, 9) AS cos_sim
    FROM cand a, (SELECT e FROM q) q
    ORDER BY {cos_ab.replace("b.e", "q.e")} DESC, a.vec_id ASC
    LIMIT 10
"""


ORACLES_DOCS["ann_ivf"] = _ivf_sql()


QUERIES_DOCS = {
    "text_quality": q_text_quality,
    "token_counts": q_token_counts,
    "lang_id": q_lang_id,
    "dedup_clusters": q_dedup_clusters,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_jaccard": q_minhash_lsh_jaccard,
    "embedding_neardup": q_embedding_neardup,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_ivf": q_ann_ivf,
}
