"""Catalog batch 4: sessionization, exact ACF, permutation entropy,
pivot (long→wide) — the remaining SURVEY §2.9/§2.10-adjacent analytics.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from tsforge_spark.catalog import SQL_HOURLY, _hourly, _read
from tsforge_spark.operators.gapfill import complete_grid
from tsforge_spark.operators.sessions import (
    acf_exact,
    permutation_entropy_m3,
    sessionize,
)


def _zero_filled_hourly(spark, sf_dir, explode: bool = False):
    """Dense zero-filled hourly series, two row-identical builds
    (equality pinned by ``test_zero_filled_series_matches_grid_join``):

    - ``explode=True`` — single-pass gap-explode
      (``gapfill.zero_filled_series``): one tier subtree, a per-user
      lead() sort instead of the grid's broadcast join.  Wins when the
      consumer re-sorts the dense rows many times over long windows —
      perm_entropy's lag-triple chain measured 1.08s vs 2.82s
      (grid+join) at sf1.0-scale, 0.60s vs 0.76s at sf0.1.
    - ``explode=False`` — complete_grid + broadcast left join +
      coalesce(0), over the UNSPREAD tier.  Wins for every single-window
      consumer (acf_pacf / stl_decompose / ts_battery: the dense rows
      come out of the generate already clustered, and the extra lead()
      sort plus the spread exchange only add cost — round-8 sweep at
      sf1.0-scale: acf 0.64s vs 0.79s, stl 0.70s vs 0.85s, battery
      0.75s vs 0.96s; same ordering at sf0.1)."""
    from tsforge_spark.operators.gapfill import zero_filled_series

    if explode:
        h = _hourly(spark, sf_dir).select("user_id", "bucket", "sum_cents")
        return zero_filled_series(
            h, "user_id", "bucket", "sum_cents", "1h"
        ).select("user_id", "bucket", F.col("sum_cents").alias("c"))
    h = _hourly(spark, sf_dir, spread=False).select(
        "user_id", "bucket", "sum_cents"
    )
    grid = complete_grid(h, "user_id", "bucket", "1h", spread=False)
    return grid.join(h, ["user_id", "bucket"], "left").select(
        "user_id", "bucket", F.coalesce("sum_cents", F.lit(0)).alias("c")
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) + per-user session stats."""
    ev = _read(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", "30 minutes", ["ts", "event_id"])
    per_session = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts").cast("timestamp"))
             - F.unix_micros(F.min("ts").cast("timestamp"))) / 1e6
        ).alias("dur_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.round(F.sum("dur_s"), 6).alias("total_session_sec"),
    )


def q_acf_pacf(spark, sf_dir):
    """Exact ACF at lags 1-3 on the zero-filled hourly series + PACF via
    the Durbin–Levinson recursion on the same unrounded ACF values
    (SURVEY §2.9; reference plots/plot_correlation.py:79-96).  Identical
    double chains on both sides → bit-exact; + 0.0 normalizes a possible
    IEEE -0.0 from rounding a tiny negative correlation."""
    y = _zero_filled_hourly(spark, sf_dir)
    out = acf_exact(y, "user_id", "bucket", "c", [1, 2, 3])
    r1, r2, r3 = F.col("acf_1"), F.col("acf_2"), F.col("acf_3")
    # Durbin–Levinson: phi_11 = r1; v1 = 1 - r1^2;
    # phi_22 = (r2 - r1^2)/v1; phi_21 = r1 - phi_22*r1; v2 = v1(1-phi_22^2)
    # phi_33 = (r3 - phi_21*r2 - phi_22*r1)/v2
    v1 = F.lit(1.0) - r1 * r1
    phi22 = (r2 - r1 * r1) / v1
    phi21 = r1 - phi22 * r1
    v2 = v1 * (F.lit(1.0) - phi22 * phi22)
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / v2
    return out.select(
        "user_id", "n",
        (F.round("acf_1", 9) + 0.0).alias("acf_1"),
        (F.round("acf_2", 9) + 0.0).alias("acf_2"),
        (F.round("acf_3", 9) + 0.0).alias("acf_3"),
        (F.round(r1, 9) + 0.0).alias("pacf_1"),
        (F.round(phi22, 9) + 0.0).alias("pacf_2"),
        (F.round(phi33, 9) + 0.0).alias("pacf_3"),
    )


def q_perm_entropy(spark, sf_dir):
    """m=3 ordinal-pattern permutation entropy per series."""
    y = _zero_filled_hourly(spark, sf_dir, explode=True)
    return permutation_entropy_m3(y, "user_id", "bucket", "c")


def q_pivot_event_types(spark, sf_dir):
    """Long→wide pivot: per-user event-type counts as columns
    (SURVEY §3 melt/pivot pair with unpivot_metrics)."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .fillna(0, types)
    )


_ZF = f"""
    h AS ({SQL_HOURLY}),
    sp AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM h GROUP BY 1),
    g AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
          FROM sp),
    y AS (SELECT g.user_id, g.bucket, coalesce(h.sum_cents, 0) AS c
          FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.bucket = h.bucket)
"""

ORACLES_TS: dict[str, str] = {}

ORACLES_TS["sessionize"] = """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS session_id
            FROM s),
    per AS (SELECT user_id, session_id, count(*) AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS dur_s
            FROM sid GROUP BY 1, 2)
    SELECT user_id, count(*) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           round(sum(dur_s), 6) AS total_session_sec
    FROM per GROUP BY user_id
"""


def _acf_sql() -> str:
    lead_cols = ",\n             ".join(
        f"lead(c, {k}) OVER (PARTITION BY user_id ORDER BY bucket) AS lead{k}"
        for k in (1, 2, 3)
    )
    agg_cols = []
    for k in (1, 2, 3):
        agg_cols.append(
            f"CAST(sum(c * lead{k}) AS BIGINT) AS cross{k},\n"
            f"           CAST(sum(CASE WHEN lead{k} IS NOT NULL THEN c END) AS BIGINT) AS head{k},\n"
            f"           CAST(sum(lead{k}) AS BIGINT) AS tail{k}"
        )
    aggs = ",\n           ".join(agg_cols)
    # unrounded ACF values (identical double chain to acf_exact), then
    # Durbin–Levinson PACF from the same unrounded values, rounded last
    raw_acfs = ",\n           ".join(
        f"(cross{k} - (CAST(s AS DOUBLE) / n) * (head{k} + tail{k})"
        f" + (n - {k}) * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
        f" / (ss - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
        f" AS r{k}"
        for k in (1, 2, 3)
    )
    return f"""
    WITH {_ZF},
    l AS (SELECT user_id, bucket, c,
             {lead_cols}
          FROM y),
    a AS (SELECT user_id, count(*) AS n,
           CAST(sum(c) AS BIGINT) AS s,
           CAST(sum(c * c) AS BIGINT) AS ss,
           {aggs}
          FROM l GROUP BY user_id),
    r AS (SELECT user_id, n,
           {raw_acfs}
          FROM a),
    dl AS (SELECT user_id, n, r1, r2, r3,
                  (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
           FROM r)
    SELECT user_id, n,
           round(r1, 9) + 0.0 AS acf_1,
           round(r2, 9) + 0.0 AS acf_2,
           round(r3, 9) + 0.0 AS acf_3,
           round(r1, 9) + 0.0 AS pacf_1,
           round(phi22, 9) + 0.0 AS pacf_2,
           round((r3 - (r1 - phi22 * r1) * r2 - phi22 * r1)
                 / ((1.0 - r1 * r1) * (1.0 - phi22 * phi22)), 9) + 0.0
               AS pacf_3
    FROM dl
"""


ORACLES_TS["acf_pacf"] = _acf_sql()

ORACLES_TS["perm_entropy"] = f"""
    WITH {_ZF},
    t AS (SELECT user_id,
                 c::DOUBLE AS a,
                 lead(c, 1) OVER w::DOUBLE AS b,
                 lead(c, 2) OVER w::DOUBLE AS cc
          FROM y WINDOW w AS (PARTITION BY user_id ORDER BY bucket)),
    pat AS (SELECT user_id,
                   CASE WHEN a <= b AND b <= cc THEN 0
                        WHEN a <= cc AND cc < b THEN 1
                        WHEN b < a AND a <= cc THEN 2
                        WHEN b <= cc AND cc < a THEN 3
                        WHEN cc < a AND a <= b THEN 4
                        ELSE 5 END AS p
            FROM t WHERE cc IS NOT NULL),
    cnt AS (SELECT user_id, p, count(*) AS cnt FROM pat GROUP BY 1, 2),
    pr AS (SELECT user_id,
                  cnt / CAST(sum(cnt) OVER (PARTITION BY user_id) AS DOUBLE) AS prob
           FROM cnt)
    SELECT user_id, round(sum(-prob * ln(prob)), 9) AS perm_entropy
    FROM pr GROUP BY user_id
"""

ORACLES_TS["pivot_event_types"] = """
    SELECT user_id,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
"""

QUERIES_TS = {
    "sessionize": q_sessionize,
    "acf_pacf": q_acf_pacf,
    "perm_entropy": q_perm_entropy,
    "pivot_event_types": q_pivot_event_types,
}


def q_plot_precompute(spark, sf_dir):
    """The reference's plot pre-compute read path in one plan
    (SURVEY §3 auxiliary entry: aggregate_by_group → resample → select_ids
    limit → apply_smoothing): hourly type-level rollup → daily downsample
    → top-3 types by total → 3-day trailing-mean smoothing."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("c").alias("c"))
    totals = daily.groupBy("event_type").agg(F.sum("c").alias("tot"))
    top = totals.orderBy(F.desc("tot"), F.asc("event_type")).limit(3)
    sel = daily.join(F.broadcast(top.select("event_type")), "event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-2, 0)
    )
    return sel.select(
        "event_type",
        "bucket",
        (F.col("c") / 100.0).alias("value"),
        (F.sum("c").over(w) / 100.0 / F.count(F.lit(1)).over(w)).alias("smoothed"),
    )


ORACLES_TS["plot_precompute"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    daily AS (
      SELECT event_type, date_trunc('day', bucket) AS bucket,
             CAST(sum(c) AS BIGINT) AS c
      FROM hourly GROUP BY 1, 2),
    top AS (
      SELECT event_type FROM daily GROUP BY 1
      ORDER BY CAST(sum(c) AS BIGINT) DESC, event_type ASC LIMIT 3)
    SELECT d.event_type, d.bucket, d.c / 100.0 AS value,
           CAST(sum(d.c) OVER w AS BIGINT) / 100.0 / count(*) OVER w AS smoothed
    FROM daily d JOIN top USING (event_type)
    WINDOW w AS (PARTITION BY d.event_type ORDER BY d.bucket
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

QUERIES_TS["plot_precompute"] = q_plot_precompute


def q_interval_metrics(spark, sf_dir):
    """Interval metrics — coverage / width / Winkler (SURVEY §2.9,
    evaluation/metrics.py:141-177) on deterministic lag-based intervals."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").withColumn(
        "c", F.round(F.col("value") * 100).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.withColumn("chat", F.lag("c").over(w))
        .filter(F.col("chat").isNotNull())
        .select(
            "event_type",
            (F.col("c") / 100.0).alias("y"),
            (F.col("chat") / 100.0 - 10.0).alias("lo"),
            (F.col("chat") / 100.0 + 10.0).alias("hi"),
        )
    )
    covered = (F.col("y") >= F.col("lo")) & (F.col("y") <= F.col("hi"))
    width = F.col("hi") - F.col("lo")
    alpha = 0.2
    winkler = (
        width
        + F.when(F.col("y") < F.col("lo"), (F.col("lo") - F.col("y")) * (2.0 / alpha)).otherwise(0.0)
        + F.when(F.col("y") > F.col("hi"), (F.col("y") - F.col("hi")) * (2.0 / alpha)).otherwise(0.0)
    )
    # CWC (Khosravi 2011, reference metrics.py:130-138) — exp is libm,
    # so round to 6 and normalize a possible -0.0 with + 0.0
    cov_frac = F.sum(covered.cast("long")) / F.count(F.lit(1))
    cov_err = cov_frac - F.lit(0.8)
    cwc = (F.lit(1.0) - F.avg(width)) * F.exp(F.lit(-50.0) * cov_err * cov_err)
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(covered.cast("long")) * 100.0 / F.count(F.lit(1))).alias("coverage"),
        F.round(F.avg(width), 9).alias("interval_width"),
        (F.sum(F.round(winkler * 1e6).cast("long")) / 1e6 / F.count(F.lit(1))).alias("winkler"),
        (F.round(cwc, 6) + 0.0).alias("cwc"),
    )


ORACLES_TS["interval_metrics"] = """
    WITH p AS (
      SELECT event_type,
             CAST(round(value*100) AS BIGINT) / 100.0 AS y,
             lag(CAST(round(value*100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) / 100.0 - 10.0 AS lo,
             lag(CAST(round(value*100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) / 100.0 + 10.0 AS hi
      FROM events)
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN y >= lo AND y <= hi THEN 1 ELSE 0 END) AS BIGINT)
               * 100.0 / count(*) AS coverage,
           round(avg(hi - lo), 9) AS interval_width,
           CAST(sum(CAST(round((hi - lo
               + CASE WHEN y < lo THEN (lo - y) * 10.0 ELSE 0.0 END
               + CASE WHEN y > hi THEN (y - hi) * 10.0 ELSE 0.0 END) * 1e6)
               AS BIGINT)) AS BIGINT) / 1e6 / count(*) AS winkler,
           round((1.0 - avg(hi - lo)) * exp(-50.0 *
               (CAST(sum(CASE WHEN y >= lo AND y <= hi THEN 1 ELSE 0 END) AS BIGINT)
                    / count(*) - 0.8)
             * (CAST(sum(CASE WHEN y >= lo AND y <= hi THEN 1 ELSE 0 END) AS BIGINT)
                    / count(*) - 0.8)), 6) + 0.0 AS cwc
    FROM p WHERE lo IS NOT NULL
    GROUP BY event_type
"""

QUERIES_TS["interval_metrics"] = q_interval_metrics


def q_mase(spark, sf_dir):
    """MASE: per-user naive-1 in-sample scale over the first 20 days,
    scoring the last 10 days (SURVEY §2.9, metrics.py:96-118) — all
    integer-cents arithmetic."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").withColumn(
        "c", F.round(F.col("value") * 100).cast("long")
    )
    ts_type = ev.schema["ts"].dataType.simpleString()
    cutoff = F.lit("2024-01-21 00:00:00").cast(ts_type)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    train = ev.filter(F.col("ts") < cutoff)
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scale = (
        train.withColumn("d", F.abs(F.col("c") - F.lag("c").over(wt)))
        .groupBy("user_id")
        .agg((F.sum("d") / 100.0 / F.count("d")).alias("scale"))
    )
    test = (
        ev.withColumn("chat", F.lag("c").over(w))
        .filter((F.col("ts") >= cutoff) & F.col("chat").isNotNull())
    )
    err = test.groupBy("user_id").agg(
        (F.sum(F.abs(F.col("chat") - F.col("c"))) / 100.0 / F.count(F.lit(1))).alias("mae"),
        F.count(F.lit(1)).alias("n_test"),
    )
    return err.join(scale, "user_id").select(
        "user_id", "n_test", (F.col("mae") / F.col("scale")).alias("mase")
    )


ORACLES_TS["mase"] = """
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(round(value*100) AS BIGINT) AS c
               FROM events),
    tr AS (SELECT user_id,
                  abs(c - lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS d
           FROM c WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
    scale AS (SELECT user_id,
                     CAST(sum(d) AS BIGINT) / 100.0 / count(d) AS scale
              FROM tr GROUP BY user_id),
    te AS (SELECT user_id, ts, c,
                  lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS chat
           FROM c),
    err AS (SELECT user_id,
                   CAST(sum(abs(chat - c)) AS BIGINT) / 100.0 / count(*) AS mae,
                   count(*) AS n_test
            FROM te
            WHERE ts >= TIMESTAMP '2024-01-21 00:00:00' AND chat IS NOT NULL
            GROUP BY user_id)
    SELECT e.user_id, e.n_test, e.mae / s.scale AS mase
    FROM err e JOIN scale s ON e.user_id = s.user_id
"""

QUERIES_TS["mase"] = q_mase


def q_rolling_median(spark, sf_dir):
    """Rolling median over a 7-row frame (SURVEY §2.5 rolling median —
    exact interpolated percentile as a window aggregate)."""
    from pyspark.sql import Window

    h = _hourly(spark, sf_dir).select("user_id", "bucket", "sum_cents")
    w7 = (
        Window.partitionBy("user_id").orderBy("bucket").rowsBetween(-6, 0)
    )
    med = F.expr("percentile(sum_cents, 0.5)").over(w7)
    return h.select(
        "user_id", "bucket", F.round(med / 100.0, 9).alias("roll_median7")
    )


ORACLES_TS["rolling_median"] = f"""
    WITH h AS ({SQL_HOURLY})
    SELECT user_id, bucket,
           round(quantile_cont(CAST(sum_cents AS DOUBLE), 0.5) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 9)
               AS roll_median7
    FROM h
"""

QUERIES_TS["rolling_median"] = q_rolling_median


def q_one_hot_json(spark, sf_dir):
    """One-hot encoding (SURVEY §2.8, encode_features.py:136-156) + JSON
    payload extraction from the events props column (SURVEY §2.8
    array/map/json functions) — per-event indicator columns and the
    extracted numeric field in one map-side projection."""
    from tsforge_spark.functions.encoders import one_hot_encode

    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "props")
    out = one_hot_encode(
        ev, "event_type", ["click", "error", "purchase", "signup", "view"]
    )
    return out.select(
        "event_id",
        *[f"event_type_{t}" for t in ("click", "error", "purchase", "signup", "view")],
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


ORACLES_TS["one_hot_json"] = """
    SELECT event_id,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS event_type_click,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS event_type_error,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS event_type_purchase,
           CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS event_type_signup,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS event_type_view,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
"""

QUERIES_TS["one_hot_json"] = q_one_hot_json


def q_stl_decompose(spark, sf_dir):
    """Classical additive decomposition (trend / seasonal / resid,
    period=24) of the zero-filled hourly series — the deterministic,
    oracle-checkable stand-in for the reference's STL diagnostic
    (plots/charts/plot_decomposition.py:23-97); see
    operators/decompose.py for the exactness discipline."""
    from tsforge_spark.operators.decompose import classical_decompose

    y = _zero_filled_hourly(spark, sf_dir)
    return classical_decompose(y, "user_id", "bucket", "c", period=24)


ORACLES_TS["stl_decompose"] = f"""
    WITH {_ZF},
    t AS (SELECT user_id, bucket, c,
                 CAST(sum(c) OVER w11 AS BIGINT) AS s11,
                 count(*) OVER w25 AS n25,
                 lag(c, 12) OVER wo AS c_lo,
                 lead(c, 12) OVER wo AS c_hi,
                 extract(hour FROM bucket) AS phase
          FROM y
          WINDOW wo AS (PARTITION BY user_id ORDER BY bucket),
                 w11 AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING),
                 w25 AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    i AS (SELECT user_id, bucket, c, phase,
                 CASE WHEN n25 = 25 THEN 2 * s11 + c_lo + c_hi END AS trend_sc,
                 CASE WHEN n25 = 25
                      THEN 48 * c - (2 * s11 + c_lo + c_hi) END AS d_sc
          FROM t),
    ph AS (SELECT user_id, phase,
                  CAST(sum(d_sc) AS BIGINT) AS sd, count(*) AS n
           FROM i WHERE d_sc IS NOT NULL GROUP BY 1, 2),
    pm AS (SELECT user_id, phase, (sd / n) / 4800.0 AS m FROM ph),
    ce AS (SELECT user_id,
                  list_reduce(list(m ORDER BY phase), (a, b) -> a + b)
                      / count(*) AS mbar
           FROM pm GROUP BY user_id),
    se AS (SELECT pm.user_id, pm.phase, pm.m - ce.mbar AS seasonal
           FROM pm JOIN ce ON pm.user_id = ce.user_id)
    SELECT i.user_id, i.bucket, i.c / 100.0 AS value,
           i.trend_sc / 4800.0 AS trend,
           se.seasonal,
           CASE WHEN i.d_sc IS NOT NULL
                THEN i.d_sc / 4800.0 - se.seasonal END AS resid
    FROM i LEFT JOIN se ON i.user_id = se.user_id AND i.phase = se.phase
"""

QUERIES_TS["stl_decompose"] = q_stl_decompose


def q_ts_battery_sql(spark, sf_dir):
    """The SQL-expressible half of the ts-feature battery, EXACT vs a
    DuckDB twin: seasonal strengths at m ∈ {4, 13, 52} (MASE ratios —
    reference score_mase/_seasonal_strength,
    eda/ts_features_extension.py:160-170) PLUS the red-flag battery
    (reference eda/check_red_flags.py:22-50: %|z|>3 outliers > 2%,
    pct_zeros > 30, first-half vs second-half mean shift > 50%,
    short history < 2*horizon, constant series), all per user over the
    zero-filled hourly series.

    Exactness discipline: the series is integer cents, so every lag-m
    absolute difference, zero count, outlier count and half-split sum
    aggregates as BIGINT (order-independent); the double chains
    (mean = S/n, var = SS/n - mean*mean, strength = 1 - mae_m/mae_1)
    are written identically on both engines, and `+ 0.0` normalizes a
    possible -0.0 from the clip.  One window pass + one groupBy on the
    same key (user_id) = a single shuffle; at 100 TB the per-series
    window state is bounded by series length, not data volume."""
    from tsforge_spark.operators.diagnostics import red_flags_battery

    y = _zero_filled_hourly(spark, sf_dir)
    return red_flags_battery(
        y, "user_id", "bucket", "c", ms=(4, 13, 52), horizon=30
    )


ORACLES_TS["ts_battery_sql"] = f"""
    WITH {_ZF},
    r AS (SELECT user_id, c,
                 abs(c - lag(c, 1) OVER wo) AS d1,
                 abs(c - lag(c, 4) OVER wo) AS d4,
                 abs(c - lag(c, 13) OVER wo) AS d13,
                 abs(c - lag(c, 52) OVER wo) AS d52,
                 row_number() OVER wo AS pos,
                 count(*) OVER wa AS n_tot,
                 CAST(sum(c) OVER wa AS BIGINT) AS s_tot,
                 CAST(sum(c * c) OVER wa AS BIGINT) AS ss_tot
          FROM y
          WINDOW wo AS (PARTITION BY user_id ORDER BY bucket),
                 wa AS (PARTITION BY user_id)),
    r2 AS (SELECT user_id, c, d1, d4, d13, d52,
                  CASE WHEN n_tot > 2
                            AND (ss_tot / n_tot) - (s_tot / n_tot) * (s_tot / n_tot) > 0
                            AND abs(c - s_tot / n_tot) >
                                3.0 * sqrt((ss_tot / n_tot)
                                           - (s_tot / n_tot) * (s_tot / n_tot))
                       THEN 1 ELSE 0 END AS is_out,
                  CASE WHEN pos <= CAST(floor(n_tot / 2.0) AS BIGINT)
                       THEN c END AS c_first
           FROM r),
    a AS (SELECT user_id,
                 count(*) AS n,
                 CAST(sum(d1) AS BIGINT) AS s1, count(d1) AS k1,
                 CAST(sum(d4) AS BIGINT) AS s4, count(d4) AS k4,
                 CAST(sum(d13) AS BIGINT) AS s13, count(d13) AS k13,
                 CAST(sum(d52) AS BIGINT) AS s52, count(d52) AS k52,
                 CAST(sum(is_out) AS BIGINT) AS n_out,
                 CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_zero,
                 CAST(sum(c_first) AS BIGINT) AS s_first,
                 count(c_first) AS k_first,
                 CAST(sum(c) AS BIGINT) AS s_all,
                 CAST(sum(c * c) AS BIGINT) AS ss_all
          FROM r2 GROUP BY user_id)
    SELECT user_id, n,
           CASE WHEN k4 > 0 AND k1 > 0 AND s1 > 0
                THEN least(greatest(1.0 - (s4 / k4) / (s1 / k1), 0.0), 1.0)
                     + 0.0 END AS seasonal_strength_m4,
           CASE WHEN k13 > 0 AND k1 > 0 AND s1 > 0
                THEN least(greatest(1.0 - (s13 / k13) / (s1 / k1), 0.0), 1.0)
                     + 0.0 END AS seasonal_strength_m13,
           CASE WHEN k52 > 0 AND k1 > 0 AND s1 > 0
                THEN least(greatest(1.0 - (s52 / k52) / (s1 / k1), 0.0), 1.0)
                     + 0.0 END AS seasonal_strength_m52,
           CASE WHEN n > 2 AND n_out * 100.0 / n > 2.0
                THEN 1 ELSE 0 END AS flag_outliers,
           CASE WHEN n_zero * 100.0 / n > 30.0
                THEN 1 ELSE 0 END AS flag_intermittent,
           CASE WHEN n > 20 AND s_first / k_first > 0
                     AND abs((s_all - s_first) / (n - k_first)
                             - s_first / k_first)
                         / (s_first / k_first) > 0.5
                THEN 1 ELSE 0 END AS flag_structural_break,
           CASE WHEN n < 60 THEN 1 ELSE 0 END AS flag_short_history,
           CASE WHEN (ss_all / n) - (s_all / n) * (s_all / n) < 1e-12
                THEN 1 ELSE 0 END AS flag_constant
    FROM a
"""

QUERIES_TS["ts_battery_sql"] = q_ts_battery_sql
