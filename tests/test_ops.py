"""Operator tests: outliers, intermittency, diagnostics, CV, ensembles,
encoders, dedup, similarity, text, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsforge_spark.functions.encoders import (
    frequency_encode,
    hash_encode,
    one_hot_encode,
    ordinal_encode_by_freq,
    target_mean_encode,
)
from tsforge_spark.operators.cv import (
    cv_cutoffs,
    cv_folds,
    ensemble_combine,
    future_frame,
    naive_last_window_mean,
)
from tsforge_spark.operators.diagnostics import (
    duplicate_keys,
    missing_buckets,
    peak_period,
    series_diagnostics,
)
from tsforge_spark.operators.intermittency import intermittency_stats
from tsforge_spark.operators.outliers import correct_outliers, flag_outliers
from tsforge_spark.operators.similarity import brute_force_topk, ivf_topk
from tsforge_spark.operators.text import add_lang_id, add_quality_score


def test_outlier_flag_zscore(spark, panel, panel_pdf):
    got = flag_outliers(panel, "y", "unique_id", "zscore", 3.0).toPandas()
    # fixture injects ~2 spikes of +8σ per series → most series flag ≥1
    per = got.groupby("unique_id")["is_outlier"].sum()
    assert (per >= 1).mean() > 0.7
    # oracle for one series
    one = panel_pdf[panel_pdf.unique_id == "series_001"]
    z = (one["y"] - one["y"].mean()) / one["y"].std(ddof=1)
    want = (z.abs() > 3).sum()
    assert per["series_001"] == want


def test_outlier_correct_winsorize_and_interp(spark, panel):
    w = (
        correct_outliers(panel, "y", "unique_id", "zscore", 3.0, "winsorize")
        .toPandas()
        .sort_values(["unique_id", "ds"])
        .reset_index(drop=True)
    )
    before = (
        flag_outliers(panel, "y", "unique_id", "zscore", 3.0)
        .toPandas()
        .sort_values(["unique_id", "ds"])
        .reset_index(drop=True)
    )
    changed = w["y"] != before["y"]
    # only flagged rows change, and every flagged row is pulled to a bound
    assert (changed == before["is_outlier"].astype(bool)).all()
    assert before["is_outlier"].sum() > 0
    # clipped values are within each series' original [mean±3σ] bounds
    stats = before.groupby("unique_id")["y"].agg(["mean", "std"])
    bounds = before["unique_id"].map(stats["mean"]) + 3 * before["unique_id"].map(
        stats["std"]
    )
    assert (w["y"] <= bounds + 1e-9).all()
    it = correct_outliers(
        panel, "y", "unique_id", "zscore", 3.0, "interpolate", time_col="ds"
    ).toPandas()
    assert it["y"].notna().all()


def test_intermittency_classification(spark):
    pdf = pd.DataFrame(
        {
            "uid": ["smooth"] * 20 + ["lumpy"] * 20,
            "ds": list(pd.date_range("2024-01-01", periods=20, freq="D")) * 2,
            "y": [10.0, 11.0, 9.0, 10.5] * 5
            + [0, 0, 0, 50, 0, 0, 0, 0, 1, 0, 0, 0, 80, 0, 0, 0, 2, 0, 0, 0],
        }
    )
    got = intermittency_stats(
        spark.createDataFrame(pdf), "uid", "ds", "y"
    ).toPandas().set_index("uid")
    assert got.loc["smooth", "sbc_class"] == "smooth"
    assert got.loc["lumpy", "sbc_class"] in ("lumpy", "intermittent")
    assert got.loc["lumpy", "pct_zero"] == 80.0


def test_series_diagnostics_and_dups(spark, panel, panel_pdf):
    d = series_diagnostics(panel, "unique_id", "ds", freq_seconds=86400).toPandas()
    one = panel_pdf[panel_pdf.unique_id == "series_000"]
    row = d[d.unique_id == "series_000"].iloc[0]
    assert row["n_obs"] == len(one)
    assert row["missing_obs"] == (
        (one["ds"].max() - one["ds"].min()).days + 1 - len(one)
    )
    dup = duplicate_keys(
        panel.unionByName(panel.limit(5)), ["unique_id", "ds"]
    ).toPandas()
    assert len(dup) == 5


def test_peak_period_and_missing_buckets(spark, panel, panel_pdf):
    p = peak_period(panel, "unique_id", "ds", "y", "month").toPandas()
    one = panel_pdf[panel_pdf.unique_id == "series_002"].copy()
    one["m"] = one["ds"].dt.month
    want = one.groupby("m")["y"].mean().idxmax()
    assert p[p.unique_id == "series_002"]["peak_month"].iloc[0] == want
    miss = missing_buckets(panel, "unique_id", "ds", "1d").toPandas()
    grp = miss.groupby("unique_id").size()
    for uid, g in panel_pdf.groupby("unique_id"):
        expect = (g["ds"].max() - g["ds"].min()).days + 1 - len(g)
        assert grp.get(uid, 0) == expect


def test_cv_plan_and_baseline(spark, panel, panel_pdf):
    cutoffs = cv_cutoffs(panel, "ds", 3, 7)
    last = panel_pdf["ds"].max()
    assert cutoffs[-1] == last - pd.Timedelta(days=7)
    folds = cv_folds(panel, "ds", cutoffs, 7).toPandas()
    assert folds["cutoff"].nunique() == 3
    assert (folds["ds"] > folds["cutoff"]).all()
    ff = future_frame(panel, "unique_id", "ds", 5, "1d").toPandas()
    assert (ff.groupby("unique_id").size() == 5).all()
    nb = naive_last_window_mean(panel, "unique_id", "ds", "y", 7, 5, "1d").toPandas()
    one = panel_pdf[panel_pdf.unique_id == "series_000"].sort_values("ds")
    want = one["y"].tail(7).mean()
    assert abs(nb[nb.unique_id == "series_000"]["yhat"].iloc[0] - want) < 1e-9


def test_ensemble_combine_modes(spark):
    pdf = pd.DataFrame({"k": [1, 2, 3], "yhat": [1.0, 2.0, 3.0]})
    m1 = spark.createDataFrame(pdf)
    m2 = spark.createDataFrame(pdf.assign(yhat=[3.0, 4.0, 8.0]))
    m3 = spark.createDataFrame(pdf.assign(yhat=[2.0, 0.0, 1.0]))
    mean = ensemble_combine([m1, m2, m3], ["k"], mode="mean").toPandas().sort_values("k")
    assert mean["yhat"].tolist() == [2.0, 2.0, 4.0]
    med = ensemble_combine([m1, m2, m3], ["k"], mode="median").toPandas().sort_values("k")
    assert med["yhat"].tolist() == [2.0, 2.0, 3.0]
    wt = ensemble_combine([m1, m2], ["k"], mode="weighted", weights=[3, 1]).toPandas().sort_values("k")
    assert wt["yhat"].tolist() == [1.5, 2.5, 4.25]


def test_encoders(spark):
    pdf = pd.DataFrame(
        {"cat": ["a", "a", "a", "b", "b", "c"], "y": [10.0, 20.0, 30.0, 5.0, 15.0, 100.0]}
    )
    df = spark.createDataFrame(pdf)
    tme = target_mean_encode(df, "cat", "y", smoothing=2.0).toPandas()
    g = pdf.groupby("cat")["y"].agg(["mean", "count"])
    w = g["count"] / (g["count"] + 2.0)
    want = w * g["mean"] + (1 - w) * pdf["y"].mean()
    got = tme.drop_duplicates("cat").set_index("cat")["cat_tme"]
    for k in ["a", "b", "c"]:
        assert abs(got[k] - want[k]) < 1e-9
    fe = frequency_encode(df, "cat").toPandas()
    assert fe[fe.cat == "a"]["cat_freq"].iloc[0] == 3
    oh = one_hot_encode(df, "cat").toPandas()
    assert oh["cat_a"].sum() == 3 and oh["cat_c"].sum() == 1
    orde = ordinal_encode_by_freq(df, "cat").toPandas().drop_duplicates("cat")
    assert orde.set_index("cat")["cat_ord"].to_dict() == {"a": 0, "b": 1, "c": 2}
    he = hash_encode(df, "cat", 8).toPandas()
    assert he["cat_hash"].between(0, 7).all()
    assert he.groupby("cat")["cat_hash"].nunique().max() == 1


def test_text_ops(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat sat on the mat, and it was good.",
                "der hund ist nicht ein katze und das ist gut",
                "xyzzy qwerty",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    q = add_quality_score(df).toPandas().set_index("doc_id")
    assert q.loc[1, "n_words"] == 10
    assert q.loc[1, "quality_score"] == 1.0
    lid = add_lang_id(df).toPandas().set_index("doc_id")
    assert lid.loc[1, "pred_lang"] == "en"
    assert lid.loc[2, "pred_lang"] == "de"
    assert lid.loc[3, "pred_lang"] == "und"


def test_dedup_exact_and_minhash(spark):
    from tsforge_spark.operators.dedup import (
        dedup_exact,
        lsh_candidate_pairs,
        ngram_jaccard,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, base, near, "completely different words entirely here now"],
        }
    )
    df = spark.createDataFrame(pdf)
    kept = dedup_exact(df, "text", "doc_id").toPandas()
    assert sorted(kept["doc_id"]) == [1, 3, 4]
    pairs = lsh_candidate_pairs(df, "doc_id", "text", k_hashes=8, bands=4)
    jac = ngram_jaccard(pairs, df, "doc_id", "text").toPandas()
    dup = jac[(jac.id_a == 1) & (jac.id_b == 2)]
    assert len(dup) == 1 and dup["jaccard"].iloc[0] == 1.0
    near_pair = jac[(jac.id_a.isin([1, 2])) & (jac.id_b == 3)]
    assert (near_pair["jaccard"] > 0.3).all()


def test_similarity_topk(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    vecs[7] = vecs[0] + rng.normal(scale=0.01, size=8).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    q = vecs[0].tolist()
    top = brute_force_topk(df.filter(F.col("vec_id") != 0), q, 3).toPandas()
    assert top["vec_id"].iloc[0] == 7  # the planted near-duplicate
    # numpy oracle
    sims = (vecs @ vecs[0]) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    order = [i for i in np.argsort(-sims) if i != 0][:3]
    assert top["vec_id"].tolist() == order
    cents = [(i, vecs[i].tolist()) for i in range(4)]
    ivf = ivf_topk(df.filter(F.col("vec_id") != 0), cents, q, 3, n_probe=2).toPandas()
    assert 7 in ivf["vec_id"].tolist()


def test_multimodal_plumbing(spark):
    from tsforge_spark.operators.multimodal import (
        decode_image_features,
        make_fake_media,
        media_metadata,
    )

    media = make_fake_media(spark, n=30)
    meta = media_metadata(media)
    # metadata projection must not read the payload column (pruning)
    plan = meta._jdf.queryExecution().executedPlan().toString()
    mpdf = meta.toPandas()
    assert len(mpdf) == 30 and (mpdf["n_bytes"] > 0).all()
    feats = decode_image_features(media, dim=8, fake=True).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 8 for f in feats["feature"])
    # no decoder configured -> fail-fast at plan build on the driver
    with pytest.raises(NotImplementedError, match="decode_fn|codec"):
        decode_image_features(media, dim=8, fake=False)


def test_asof_join_variants_agree(spark):
    from tsforge_spark.operators.asof import asof_join, asof_join_pandas

    left = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 2,
            "t": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:10", "2024-01-01 00:20",
                 "2024-01-01 00:00", "2024-01-01 00:07", "2024-01-01 00:30"]
            ).astype("datetime64[us]"),
        }
    )
    right = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "t": pd.to_datetime(
                ["2024-01-01 00:04", "2024-01-01 00:10", "2024-01-01 00:29"]
            ).astype("datetime64[us]"),
            "v": [1.0, 2.0, 9.0],
        }
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    a = (
        asof_join(ldf, rdf, "k", "t", ["v"])
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )
    b = (
        asof_join_pandas(ldf, rdf, "k", "t", ["v"])
        .toPandas().sort_values(["k", "t"]).reset_index(drop=True)
    )
    # pandas oracle
    want = pd.merge_asof(
        left.sort_values("t"), right.rename(columns={"v": "v_asof"}).sort_values("t"),
        on="t", by="k",
    ).sort_values(["k", "t"]).reset_index(drop=True)
    for got in (a, b):
        np.testing.assert_array_equal(
            got["v_asof"].to_numpy(), want["v_asof"].to_numpy()
        )


def test_salted_layout_splits_hot_conversations(spark):
    from tsforge_spark.operators.skew import salted_layout

    rows = []
    for t in range(3000):
        rows.append(("hot", t, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))
    for t in range(700):
        rows.append(("warm", t, pd.Timestamp("2024-01-03") + pd.Timedelta(seconds=t)))
    for cid in range(20):
        for t in range(10):
            rows.append((f"cold{cid}", t, pd.Timestamp("2024-01-02") + pd.Timedelta(seconds=t)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    out = salted_layout(df, n_buckets=8, block_size=500)
    got = out.toPandas()
    # hot conversation spreads over ceil(3000/500)=6 salt blocks
    assert got[got.conv_id == "hot"]["salt"].nunique() == 6
    # a 700-turn conversation is past one block, so it takes two
    assert sorted(got[got.conv_id == "warm"]["salt"].unique()) == [0, 1]
    # short conversations stay in block 0
    assert (got[got.conv_id.str.startswith("cold")]["salt"] == 0).all()
    # within each (hot, salt) block turn order is contiguous and sorted
    blk = got[(got.conv_id == "hot") & (got.salt == 2)]["turn_idx"].to_numpy()
    assert blk.min() == 1000 and blk.max() == 1499
    # no row loss
    assert len(got) == len(pdf)
    # the salt is a function of the row: laid out alone, each
    # conversation's rows get the salts they got inside the larger frame
    key = ["conv_id", "turn_idx"]
    whole = got[key + ["bucket_id", "salt"]].sort_values(key)
    for cid in ("hot", "warm", "cold3"):
        alone = (
            salted_layout(df.filter(df.conv_id == cid), n_buckets=8, block_size=500)
            .toPandas()[key + ["bucket_id", "salt"]]
            .sort_values(key)
        )
        pd.testing.assert_frame_equal(
            alone.reset_index(drop=True),
            whole[whole.conv_id == cid].reset_index(drop=True),
        )


def test_sessionize_matches_session_window(spark):
    """The gap-islands sessionize must agree with Spark's native
    F.session_window on session count and per-session sizes —
    cross-validates both paths.  Boundary note: on a gap of EXACTLY the
    threshold, sessionize keeps the session (``>`` test) while
    session_window starts a new one (half-open [ts, ts+gap)); the test
    gaps deliberately avoid the exact boundary."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsforge_spark.operators.sessions import sessionize

    rng = np.random.default_rng(17)
    rows = []
    t = pd.Timestamp("2024-01-01")
    for u in range(20):
        cur = t
        for i in range(200):
            # mixture of short intra-session gaps and long breaks
            gap_min = int(rng.choice([1, 5, 20, 45, 120], p=[0.4, 0.3, 0.15, 0.1, 0.05]))
            cur = cur + pd.Timedelta(minutes=gap_min)
            rows.append((f"u{u}", cur, i))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    df = spark.createDataFrame(pdf)

    ours = (
        sessionize(df, "user_id", "ts", "30 minutes", ["ts", "event_id"])
        .groupBy("user_id", "session_id")
        .count()
        .toPandas()
    )
    native = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .toPandas()
    )
    a = ours.groupby("user_id")["count"].apply(lambda s: sorted(s))
    b = native.groupby("user_id")["count"].apply(lambda s: sorted(s))
    pd.testing.assert_series_equal(a, b, check_names=False)


def test_detect_covariates_and_check_panel(spark, panel, panel_pdf):
    """Static/dynamic covariate auto-detection (check_model_readiness
    semantics: nunique(dropna=False) <= 1 per id) and the panel
    readiness triage report (check_panel)."""
    import pandas as pd

    from tsforge_spark.operators.diagnostics import check_panel, detect_covariates

    static, dynamic = detect_covariates(panel, "unique_id", exclude=["ds", "y"])
    assert "category" in static  # one value per id by construction
    assert "promo" in dynamic    # varies within a series

    # clean panel: gaps exist by construction (gap_frac=0.10), no dups
    rep = check_panel(panel, "unique_id", "ds", freq="1d")
    assert rep["duplicate_rows"] == 0
    assert rep["continuity_gaps"] > 0
    assert rep["n_series"] == panel_pdf["unique_id"].nunique()
    assert rep["n_obs"] == len(panel_pdf)

    # plant a duplicate key and re-check
    dup = spark.createDataFrame(panel_pdf.iloc[[0]]).unionByName(panel)
    rep2 = check_panel(dup, "unique_id", "ds", freq="1d")
    assert rep2["duplicate_rows"] == 1
    assert any("duplicate" in w for w in rep2["warnings"])


def test_neardup_clusters_transitive_closure(spark):
    """Min-label propagation: chains collapse to one cluster labeled by
    the component's min id; disjoint components stay apart."""
    from tsforge_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"] for r in neardup_clusters(pairs).collect()
    }
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11)} == {10}
    # a 5-long chain (diameter > 2) still converges to the min label
    assert {got[i] for i in (20, 21, 22, 23, 24)} == {20}


def test_neardup_clusters_on_lsh_pairs(spark):
    """End-to-end: LSH candidate pairs over the documents fixture →
    clusters; every pair must land in one cluster, and cluster ids are
    member minima."""
    from tsforge_spark.catalog_docs import q_minhash_lsh_jaccard
    from tsforge_spark.operators.dedup import neardup_clusters

    pairs = q_minhash_lsh_jaccard(spark, "/root/testdata/sf0.001")
    labs = neardup_clusters(pairs).toPandas().set_index("id")["cluster_id"]
    p = pairs.toPandas()
    assert len(p) > 0
    assert (p["id_a"].map(labs) == p["id_b"].map(labs)).all()
    import pandas as pd
    members = pd.Series(labs.index, index=labs.values).groupby(level=0).min()
    assert (members.index == members.values).all()


def test_embedding_neardup_counts_rows_when_footer_read_fails(
    spark, monkeypatch, tmp_path
):
    """The IVF cell count comes from the parquet footers; when reading
    them fails with a storage error the query counts the rows with
    Spark instead and returns the same pairs.  Any other error raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsforge_spark.catalog_docs import q_embedding_neardup

    n_rows = 300
    vecs = np.random.default_rng(3).normal(size=(n_rows, 8)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_rows, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sf = str(tmp_path)
    want = sorted(q_embedding_neardup(spark, sf).collect())
    assert want

    def unreadable(*_a, **_k):
        raise OSError("footer unreadable")

    counted = []
    frame_type = type(spark.range(1))
    spark_count = frame_type.count

    def count(df):
        counted.append(spark_count(df))
        return counted[-1]

    monkeypatch.setattr(pq, "ParquetDataset", unreadable)
    monkeypatch.setattr(frame_type, "count", count)
    assert sorted(q_embedding_neardup(spark, sf).collect()) == want
    assert counted == [n_rows]

    def broken(*_a, **_k):
        raise RuntimeError("not a storage error")

    monkeypatch.setattr(pq, "ParquetDataset", broken)
    with pytest.raises(RuntimeError, match="not a storage error"):
        q_embedding_neardup(spark, sf)


def test_two_level_ivf_assignment(spark):
    """Coarse-to-fine assignment (similarity.assign_cells_two_level):
    on cluster-structured data where each coarse group is well
    separated it must EQUAL the flat assignment; both centroid joins
    must stay broadcast (no cartesian, no shuffle join against the
    centroid tables)."""
    import numpy as np

    from tsforge_spark.operators.similarity import (
        assign_cells_relational,
        assign_cells_two_level,
    )

    rng = np.random.default_rng(5)
    # 4 well-separated orthogonal-ish cluster directions in 8d
    bases = np.eye(8)[:4] * 10.0
    # 16 fine centroids: cids 0..3 are one per cluster (they double as
    # the deterministic coarse set = the 4 lowest cids), 4..15 jitter
    # around the bases
    fine = [bases[i] for i in range(4)]
    for i in range(4, 16):
        fine.append(bases[i % 4] + rng.normal(scale=0.5, size=8))
    vecs = []
    for i in range(200):
        vecs.append(bases[i % 4] + rng.normal(scale=0.8, size=8))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(200), "embedding": [v.tolist() for v in vecs]}
        )
    )
    cents = spark.createDataFrame(
        pd.DataFrame(
            {"cid": range(16), "ce": [list(map(float, c)) for c in fine]}
        )
    )
    flat = assign_cells_relational(emb, cents).select("vec_id", "cell")
    two = assign_cells_two_level(emb, cents, n_coarse=4).select(
        "vec_id", "cell"
    )
    a = flat.toPandas().sort_values("vec_id").reset_index(drop=True)
    b = two.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert (a["cell"] == b["cell"]).all()
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_one_hot_cardinality_cap(spark):
    """The one-hot FIT path must never collect unbounded distincts to
    the driver: over ``max_categories`` it raises loudly (the
    reference's get_dummies, encode_features.py:136-156, silently
    explodes into that many columns instead).  The collect itself is
    limit-capped at max_categories+1 rows, so even the failing fit
    moves O(cap) — not O(cardinality) — data."""
    import pytest as _pytest

    from tsforge_spark.functions.encoders import one_hot_encode

    wide = spark.range(500).select(
        F.concat(F.lit("cat_"), F.col("id")).alias("c")
    )
    with _pytest.raises(ValueError, match="more than 100 distinct"):
        one_hot_encode(wide, "c", max_categories=100)
    # explicit categories skip the fit job entirely — no error
    ok = one_hot_encode(
        wide, "c", categories=["cat_1", "cat_2"], max_categories=100
    ).toPandas()
    assert ok["c_cat_1"].sum() == 1 and ok["c_cat_2"].sum() == 1
    # NULLs never become output columns, so they must not count toward
    # the cap either: exactly max_categories real categories + NULL
    # rows fits (ADVICE r7 — the old fit collected the NULL distinct
    # row and raised spuriously at cap+1)
    at_cap = spark.range(120).select(
        F.when(F.col("id") < 100,
               F.concat(F.lit("cat_"), F.col("id"))).alias("c")
    )
    fitted = one_hot_encode(at_cap, "c", max_categories=100)
    assert len(fitted.columns) == 1 + 100
