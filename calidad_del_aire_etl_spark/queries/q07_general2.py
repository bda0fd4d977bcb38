"""TPC-H shapes, range join, funnel, percentiles, SCD2 and CDC snapshot
diff, blocked entity matching — registered queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import general, incremental, tpch2, tpch3
from ..registry import load, register

# ---------------------------------------------------------------------------
# General analytics, batch 2: Q6/Q10 shapes, range join, funnel, exact
# percentiles, SCD2 history build (SURVEY §2 #19b-24e).
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast",
    general.Q6_SQL.format(
        date_lo="1996-01-01", date_hi="1997-01-01",
        disc_lo=0.05, disc_hi=0.07, qty_max=24.0,
    ),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #19b — TPC-H Q6-shape scan-filter-aggregate: all four
    predicates push into the parquet scan, zero joins, one global sum."""
    return general.q6_forecast_revenue(load(spark, sf_dir, "lineitem"))


@register(
    "tpch_q10_returned",
    general.Q10_SQL.format(date_lo="1996-01-01", date_hi="1996-04-01", topn=20),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #19c — TPC-H Q10-shape returned-revenue ranking: returns
    filtered at the scan, customer broadcast, one fact shuffle."""
    return general.q10_returned_items(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


@register("tpch_q4_priority", tpch2.Q4_SQL.format(date_lo="1996-01-01", date_hi="1996-04-01"))
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS late-shipment count per priority."""
    return tpch2.q4_priority(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1996-01-01",
        "1996-04-01",
    )


@register("tpch_q7_volume", tpch2.Q7_SQL.format(a="NATION_3", b="NATION_7"))
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — nation-pair shipping volume by year."""
    return tpch2.q7_volume(
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "NATION_3",
        "NATION_7",
    )


@register(
    "tpch_q8_mktshare",
    tpch2.Q8_SQL.format(region="ASIA", target="NATION_3", ptype="PROMO"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — one nation's market share of a region's PROMO
    volume, per year."""
    return tpch2.q8_market_share(
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        region_name="ASIA",
        target_nation="NATION_3",
        p_type="PROMO",
    )


@register(
    "tpch_q12_priority_ship",
    tpch2.Q12_SQL.format(date_lo="1997-01-01", date_hi="1998-01-01"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — high/low priority line counts per line status."""
    return tpch2.q12_priority_by_status(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1997-01-01",
        "1998-01-01",
    )


@register(
    "tpch_q14_promo",
    tpch2.Q14_SQL.format(date_lo="1997-01-01", date_hi="1997-02-01"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue percentage for one month."""
    return tpch2.q14_promo_share(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        "1997-01-01",
        "1997-02-01",
    )


@register(
    "tpch_q15_top_supplier",
    tpch2.Q15_SQL.format(date_lo="1997-01-01", date_hi="1997-04-01"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — argmax supplier by quarterly revenue
    (scalar-max broadcast, no global window)."""
    return tpch2.q15_top_supplier(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        "1997-01-01",
        "1997-04-01",
    )


@register(
    "tpch_q16_supplier_cnt",
    tpch2.q16_sql("Brand#12", "ECONOMY", [1, 5, 10, 15, 20, 25, 30, 35]),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct suppliers per (brand,type,size) with
    broadcast anti-join blocklist."""
    return tpch2.q16_supplier_counts(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        brand_not="Brand#12",
        type_not="ECONOMY",
        sizes=[1, 5, 10, 15, 20, 25, 30, 35],
    )


@register("tpch_q17_small_qty", tpch2.Q17_SQL.format(brand="Brand#23"))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — below-half-average-quantity revenue (decorrelated
    per-part AVG subquery)."""
    return tpch2.q17_small_quantity(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part"), "Brand#23"
    )


@register("tpch_q18_large_orders", tpch2.Q18_SQL.format(min_qty=300))
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — orders with total quantity > 300, with customer
    context (HAVING subquery broadcast back)."""
    return tpch2.q18_large_orders(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        min_qty=300,
    )


@register("tpch_q19_disjunctive", tpch2.Q19_SQL)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs disjunctive predicate revenue."""
    return tpch2.q19_disjunctive(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


@register("tpch_q22_inactive", tpch2.Q22_SQL.format(recent_date="2001-01-01"))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — wealthy customers with no recent orders, per
    nation (scalar-subquery threshold + anti-join)."""
    return tpch2.q22_inactive_wealthy(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        recent_date="2001-01-01",
    )


@register(
    "range_join_incidents",
    general.RANGE_JOIN_SQL.format(trigger_type="error", win_us=60 * 60 * 1_000_000),
)
def q_range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23c — equi-key + time-range interval join: per error
    event, the same user's activity in the following hour. Hash join on
    the equi-key with the range predicate as a post-join filter."""
    return general.range_join_incidents(
        load(spark, sf_dir, "events"), trigger_type="error", window_minutes=60
    )


@register(
    "window_funnel",
    general.FUNNEL_SQL.format(s1="view", s2="click", s3="purchase"),
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23d — ordered funnel view→click→purchase with strictly
    increasing timestamps; per-user sorted-array state, one shuffle."""
    return general.window_funnel(load(spark, sf_dir, "events"))


@register("percentile_profile", general.percentile_sql((0.25, 0.5, 0.75, 0.95)))
def q_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15b — per-type exact percentile profile (p25/50/75/95);
    percentile_approx is the drop-in sketch at 100 TB."""
    return general.percentile_profile(load(spark, sf_dir, "events"))


@register("scd2_build", general.SCD2_SQL)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3c — SCD Type-2 versioned dimension from the event
    change log: lead() closes each validity interval, latest row flagged
    current."""
    return general.scd2_from_changelog(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# TPC-H batch 4 (Q2/9/11/13/20/21).
# ---------------------------------------------------------------------------


@register("tpch_q13_custdist", tpch3.Q13_SQL)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution (LEFT OUTER join
    preserved zero-order customers, then a distribution groupBy)."""
    return tpch3.q13_custdist(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    )


@register("tpch_q21_waiting", tpch3.Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — sole late supplier on multi-supplier finalized
    orders (Q4's >60-day lateness convention; see tpch3 docstring)."""
    return tpch3.q21_waiting(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
    )


@register("tpch_q9_profit", tpch3.q9_sql("a"))
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — profit by nation x year (supplycost stand-in: 60% of
    retail price; DECIMAL fact math, dims broadcast)."""
    return tpch3.q9_profit(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "part"),
        name_token="a",
    )


@register("tpch_q11_important", tpch3.q11_sql("NATION_2", 0.001))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 — parts whose supplied value from one nation exceeds a
    scalar fraction of the total (broadcast scalar threshold)."""
    return tpch3.q11_important_parts(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        nation_name="NATION_2",
        fraction=0.001,
    )


@register("tpch_q20_excess", tpch3.q20_sql("NATION_1", "red", 1996, 50.0))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 — suppliers in a nation whose shipped volume of
    name-prefixed parts in a year exceeds a threshold (semi-join)."""
    return tpch3.q20_excess_suppliers(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        nation_name="NATION_1",
        prefix="red",
        year=1996,
        min_qty=50.0,
    )


@register("tpch_q2_min_cost", tpch3.q2_sql("EUROPE", 5))
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 — min-cost supplier per part within a region (argmin
    window over the lineitem-derived part-supplier relation;
    deterministic pseudo supply cost, see tpch3 docstring)."""
    return tpch3.q2_min_cost_supplier(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "lineitem"),
        region_name="EUROPE",
        size_mod=5,
    )


# ---------------------------------------------------------------------------
# SCD2 apply, CDC snapshot diff, blocked entity matching.
# ---------------------------------------------------------------------------


@register("scd2_apply_incremental", general.SCD2_SQL)
def q_scd2_apply_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3e — incremental SCD2 apply: history built from
    events before 2024-01-24, then the remaining days applied as a
    change batch. The oracle is the FULL REBUILD over all events —
    hash-parity proves apply∘build ≡ rebuild, closed rows never
    reprocessed (untouched keys stream through an anti-join)."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    before = ev.filter(F.col("ts") < cutoff)
    after = ev.filter(F.col("ts") >= cutoff)
    return general.scd2_apply(general.scd2_from_changelog(before), after)


# Two deterministic "versions" of orders derived from the same table so
# the diff has all three change classes: v_old drops orderkey%17==3
# (those become `added`), v_new drops %19==5 (`deleted`) and reprices
# %7==0 rows by +5 % (`changed`).
_SNAP_OLD_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 17 <> 3"
)


_SNAP_NEW_SQL = (
    "SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 "
    "THEN ROUND(o_totalprice * 1.05 + 1e-9, 2) ELSE o_totalprice END "
    "AS o_totalprice FROM orders WHERE o_orderkey % 19 <> 5"
)


@register(
    "snapshot_diff_orders",
    incremental.snapshot_diff_sql(
        _SNAP_OLD_SQL, _SNAP_NEW_SQL, ["o_orderkey"], ["o_totalprice"]
    ),
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14c — keyed snapshot diff (CDC reconciliation): which
    rows were added / deleted / changed between two versions of the
    orders table (operators/incremental.py:snapshot_diff). One full
    outer sort-merge join; both derived snapshots share the scan and
    Catalyst reuses the exchange."""
    orders = load(spark, sf_dir, "orders")
    v_old = orders.where(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey", "o_totalprice"
    )
    v_new = orders.where(F.col("o_orderkey") % 19 != 5).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 1.05 + F.lit(1e-9), 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return incremental.snapshot_diff(
        v_old, v_new, ["o_orderkey"], ["o_totalprice"]
    )


@register(
    "er_blocked_match",
    general.blocked_fuzzy_match_sql(
        "customer", "supplier",
        ["c_nationkey"], ["s_nationkey"],
        "c_custkey", "s_suppkey", "c_name", "s_name",
        max_dist=12,
    ),
)
def q_er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24b — blocked fuzzy entity matching (record linkage):
    customers linked to same-nation suppliers by Levenshtein distance,
    best match per customer. Candidate pairs exist only inside the
    blocking-key equi-join — the operator never cross-joins, and the
    block key is the caller's cardinality contract (see
    operators/general.py:blocked_fuzzy_match)."""
    # spread=True: the probe side fans out |block| candidates per row
    # through the Levenshtein scorer — a 1-file scan would run the whole
    # candidate stream in ONE task (measured 3.8 s; 32-way ~1.1 s)
    cust = load(spark, sf_dir, "customer", spread=True).withColumnRenamed(
        "c_nationkey", "__nk"
    )
    supp = load(spark, sf_dir, "supplier").withColumnRenamed("s_nationkey", "__nk")
    return general.blocked_fuzzy_match(
        cust, supp, ["__nk"],
        "c_custkey", "s_suppkey", "c_name", "s_name", max_dist=12,
    )
