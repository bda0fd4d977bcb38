"""Analytics: grouping sets, TWA, winsorize, drift and anomaly tests,
forecasts, behavior, graph and data profiling — registered queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    analytics2,
    behavior,
    corpus,
    dedup,
    general,
    graph,
    text,
    validation,
)
from ..registry import load, register

# ---------------------------------------------------------------------------
# Analytics widening batch: grouping sets, time-weighted avg, winsorize,
# histogram, cumulative distinct; TF-IDF; benchmark contamination.
# ---------------------------------------------------------------------------


@register("grouping_sets_profile", analytics2.GROUPING_SETS_SQL)
def q_grouping_sets_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — (event_type) + (dow) profiles in one
    fact pass (vs two scans for two groupBys)."""
    return analytics2.grouping_sets_profile(load(spark, sf_dir, "events"))


@register("time_weighted_avg", analytics2.TIME_WEIGHTED_SQL)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean over irregular sampling intervals
    (lead-delta weights, exact DECIMAL weighted sums)."""
    return analytics2.time_weighted_avg(load(spark, sf_dir, "events"))


@register("winsorize_profile", analytics2.winsorize_sql(0.05, 0.95))
def q_winsorize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type P5/P95 winsorization: exact bounds broadcast back onto
    the fact, clip counts + winsorized mean."""
    return analytics2.winsorize_profile(load(spark, sf_dir, "events"), 0.05, 0.95)


@register("value_histogram", analytics2.value_histogram_sql(0.0, 500.0, 20))
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type — arithmetic bin ids in
    WholeStageCodegen, shuffle carries only (type, bin) partials."""
    return analytics2.value_histogram(load(spark, sf_dir, "events"), 0.0, 500.0, 20)


@register("cumulative_distinct_users", analytics2.CUMULATIVE_DISTINCT_SQL)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative distinct users via the first-touch trick — no
    growing-window COUNT(DISTINCT), the only window runs over ~#days rows."""
    return analytics2.cumulative_distinct_users(load(spark, sf_dir, "events"))


@register("text_tfidf_topk", text.tfidf_topk_sql("documents", "doc_id", "text", k=5))
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (smoothed idf, map-side-combined
    tf/df aggregates, scalar doc-count broadcast)."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return text.tfidf_topk(docs, "doc_id", "text", k=5)


@register(
    "corpus_contamination",
    corpus.contamination_sql("documents", "doc_id", "text", n=5, bench_mod=97),
)
def q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the benchmark subset (doc_id % 97 == 0), with overlap counts."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return corpus.contamination_check(docs, "doc_id", "text", n=5, bench_mod=97)


@register("ema_per_user", analytics2.ema_sql(alpha=0.3, tail_n=5))
def q_ema_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average — the inherently-sequential
    smoother as a JVM-side array fold (one groupBy shuffle; streaming
    stateful module is the unbounded-series path)."""
    return analytics2.ema_per_group(load(spark, sf_dir, "events"), alpha=0.3, tail_n=5)


@register(
    "expectations_report",
    validation.expectations_sql("events", validation.DEFAULT_EVENT_RULES),
)
def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations runner — five rule kinds (null-frac,
    uniqueness, accepted values, range, row-count) in ONE full-scan
    aggregate, long-form pass/fail report (dag:365-407 generalized)."""
    return validation.expectations_report(
        load(spark, sf_dir, "events"), validation.DEFAULT_EVENT_RULES
    )


@register("mode_per_user", analytics2.MODE_SQL)
def q_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent event_type) per user — argmax window over a
    pre-reduced |users|×|types| relation, deterministic tie-break."""
    return analytics2.mode_per_group(load(spark, sf_dir, "events"))


@register("psi_drift", analytics2.psi_sql("2024-01-16", 0.0, 500.0, 10, 1e-4))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift per event_type between the two
    halves of the month — fixed-bin groupBy arithmetic, no sort/quantile."""
    return analytics2.psi_drift(
        load(spark, sf_dir, "events"), "2024-01-16", 0.0, 500.0, 10, 1e-4
    )


@register("sample_n_per_user", analytics2.sample_n_sql(10))
def q_sample_n_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-ordered 10-row sample per user (reproducible,
    RNG-free, unbiased by time or value)."""
    return analytics2.sample_n_per_group(load(spark, sf_dir, "events"), 10)


# PageRank IS oracle-able for a FIXED iteration count: unroll the 8
# rounds as chained CTEs (recursive CTEs can't aggregate over the
# recursive reference, but unrolling needs no recursion). Per-node
# float-sum order differs between engines by ~1e-16; the 4-decimal
# nudged round absorbs it.
_PAGERANK_SQL = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
           's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 's:' || CAST(l.l_suppkey AS VARCHAR),
           'c:' || CAST(o.o_custkey AS VARCHAR)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  )
), deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / nn.n AS rank FROM deg, nn),
r1 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r0.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r0 ON e.src = r0.node
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r1.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.node
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r2.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r2 ON e.src = r2.node
  GROUP BY e.dst
),
r4 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r3.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r3 ON e.src = r3.node
  GROUP BY e.dst
),
r5 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r4.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r4 ON e.src = r4.node
  GROUP BY e.dst
),
r6 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r5.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r5 ON e.src = r5.node
  GROUP BY e.dst
),
r7 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r6.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r6 ON e.src = r6.node
  GROUP BY e.dst
),
r8 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r7.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r7 ON e.src = r7.node
  GROUP BY e.dst
)
SELECT node, ROUND(rank + 1e-9, 4) AS rank FROM r8
ORDER BY ROUND(rank + 1e-9, 4) DESC, node ASC LIMIT 50
"""


@register("graph_pagerank", _PAGERANK_SQL)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph —
    the iterative persist/unpersist pattern (constant lineage depth,
    one shuffle per round); top-50 nodes."""
    edges = graph.order_graph_edges(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )
    return graph.pagerank(edges, iterations=8).limit(50)


@register("cohort_retention", behavior.COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — first-touch cohorts, |cohorts|x|weeks|
    output from two partial-agg passes over (user, week)."""
    return behavior.cohort_retention(load(spark, sf_dir, "events"))


@register("rfm_segments", behavior.rfm_sql("purchase"))
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation per user over purchase events (ntile
    windows over the user-reduced relation; approx-quantile cut points
    are the documented 100 TB swap)."""
    return behavior.rfm_segments(load(spark, sf_dir, "events"), "purchase")


@register("event_transition_matrix", behavior.TRANSITION_SQL)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive event
    types per user (one lag window + |types|^2 bigram groupBy)."""
    return behavior.transition_matrix(load(spark, sf_dir, "events"))


@register(
    "column_profile",
    validation.column_profile_sql("events"),
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Describe-style column profiler — numeric + string metrics in long
    form, ONE full-scan aggregate for any column count."""
    return validation.column_profile(load(spark, sf_dir, "events"))


@register("hour_dow_heatmap", analytics2.HEATMAP_SQL)
def q_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x day-of-week activity heatmap (24x7 output, one groupBy)."""
    return analytics2.hour_dow_heatmap(load(spark, sf_dir, "events"))


@register("scd2_point_in_time", general.SCD2_PIT_SQL)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of purchase facts onto the SCD2 status
    dimension — equi-key hash join with the validity interval as a
    post-filter (never a nested loop)."""
    return general.scd2_point_in_time(load(spark, sf_dir, "events"))


@register("topn_with_others", analytics2.topn_others_sql(3))
def q_topn_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue users per event type + OTHER rollup row — the BI
    chart relation, ranked on the pre-reduced |types|x|users| agg."""
    return analytics2.topn_with_others(load(spark, sf_dir, "events"), 3)


@register("share_of_total", analytics2.SHARE_SQL)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total + rank per customer nation (window ratio over
    the |nations|-row reduced relation — global window is safe because
    the relation is dimension-sized by construction)."""
    return analytics2.share_of_total(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )


# ---------------------------------------------------------------------------
# Drift, anomaly and A/B tests, forecasts, concentration, backlog.
# ---------------------------------------------------------------------------


@register("seasonal_anomaly", analytics2.seasonal_anomaly_sql(3.0))
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware outliers: |z| > 3 against the (type, dow, hour)
    cell baseline — the reference's mean±k·sigma rule (dag:207-215),
    cycle-adjusted; baseline broadcast, narrow z projection."""
    return analytics2.seasonal_anomaly(load(spark, sf_dir, "events"), 3.0)


@register("events_cusum_alarms", analytics2.cusum_alarms_sql(0.5, 5.0))
def q_events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #18b — one-sided CUSUM drift alarms per user via the
    prefix-sum closed form: one window shuffle, no iteration."""
    return analytics2.cusum_alarms(load(spark, sf_dir, "events"), 0.5, 5.0)


@register("ab_welch_t", analytics2.ab_welch_t_sql(2))
def q_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23m — Welch unequal-variance t statistic per event
    type over a deterministic md5 user split; one map-side-combined
    stats aggregate, fact never re-shuffles."""
    return analytics2.ab_welch_t(load(spark, sf_dir, "events"), 2)


@register("decayed_counts", analytics2.decayed_counts_sql(7.0))
def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23n — exponentially-decayed (7-day half-life) activity
    per event type; deterministic max-ts anchor broadcast as a scalar."""
    return analytics2.decayed_counts(load(spark, sf_dir, "events"), 7.0)


@register("daily_percentile_bands", analytics2.daily_percentile_bands_sql())
def q_daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23o — exact p50/p95 daily bands per event type (tail
    divergence = the capacity signal); one partial-aggregated pass."""
    return analytics2.daily_percentile_bands(load(spark, sf_dir, "events"))


@register("pareto_frontier", analytics2.pareto_frontier_sql("part"))
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24h — 2-D Pareto frontier (skyline) of parts: best
    price-for-size shortlist. Two-phase: Arrow-batched conservative
    local prune (no shuffle), exact tie-correct global check over the
    tiny survivor set. Oracle is the quadratic NOT-EXISTS definition,
    proving the pruning drops nothing."""
    return analytics2.pareto_frontier(
        load(spark, sf_dir, "part"), "p_partkey", "p_retailprice", "p_size"
    )


@register("user_feature_matrix", analytics2.user_feature_matrix_sql())
def q_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23r — point-in-time per-user ML feature matrix
    (recency / frequency@7d,30d / monetary / breadth / lifetime) in ONE
    conditional-aggregate fact pass against a deterministic max-ts
    anchor."""
    return analytics2.user_feature_matrix(load(spark, sf_dir, "events"))


@register("holt_trend_forecast", analytics2.holt_sql(alpha=0.5, beta=0.3, horizon=3))
def q_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22f — per-user Holt double exponential smoothing
    (level + linear trend) with a 3-step-ahead forecast: the short-
    horizon sensor projection one notch past ema_per_user's flat EMA.
    Same fold discipline: one groupBy shuffle into a sorted array, the
    two-state recurrence as a JVM-side higher-order aggregate."""
    return analytics2.holt_per_group(
        load(spark, sf_dir, "events"), alpha=0.5, beta=0.3, horizon=3
    )


@register("open_order_backlog", analytics2.open_order_backlog_sql())
def q_open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j — open-order backlog series (cumulative opens −
    closes by day, close = last line shipment): the event-sourcing fold
    at calendar grain (operators/analytics2.py:open_order_backlog)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return analytics2.open_order_backlog(orders, li)


@register(
    "revenue_gini_by_nation",
    analytics2.gini_by_group_sql(
        "(SELECT n_name, o.o_custkey AS cust, o.o_totalprice AS amt "
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        " JOIN nation n ON c.c_nationkey = n.n_nationkey)",
        "n_name", "cust", "amt",
    ),
)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31k — Gini concentration of customer revenue within
    each nation (operators/analytics2.py:gini_by_group): how unequal is
    spend across customers per market. Fact aggregate is map-side
    combined; nation dims broadcast; the exact rank window per nation is
    the oracle contract (the 100 TB path swaps it for a Lorenz
    histogram, see docstring)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("amt"),
        )
    )
    return analytics2.gini_by_group(joined, "n_name", "cust", "amt")


@register("seasonal_decompose", analytics2.seasonal_decompose_sql())
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #20b — classical additive trend/seasonal/residual
    decomposition of the per-type hourly series
    (operators/analytics2.py:seasonal_decompose); the profile behind
    seasonal_anomaly. One table-sized aggregate to hourly grain; all
    windows after it are calendar-bounded."""
    ev = load(spark, sf_dir, "events")
    return analytics2.seasonal_decompose(ev)


@register(
    "revenue_gini_by_nation_hist",
    analytics2.gini_by_group_hist_sql(
        "(SELECT n_name, o.o_custkey AS cust, o.o_totalprice AS amt "
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        " JOIN nation n ON c.c_nationkey = n.n_nationkey)",
        "n_name", "cust", "amt",
    ),
)
def q_revenue_gini_by_nation_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31k (scale variant) — Lorenz-histogram Gini of
    customer revenue per nation (operators/analytics2.py:
    gini_by_group_hist): the 100 TB path revenue_gini_by_nation's
    docstring promises, as a registered query. 256 fixed-width bins per
    nation replace the exact per-nation rank window over customer-grain
    rows — every table-sized step is a map-side-combined aggregate; the
    only window runs over <= 256 bin rows per nation. Deterministic, so
    the DuckDB twin hash-matches; a tolerance pytest pins it within
    0.01 of the exact Gini."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.col("o_custkey").alias("cust"),
            F.col("o_totalprice").alias("amt"),
        )
    )
    return analytics2.gini_by_group_hist(joined, "n_name", "cust", "amt")


# ---------------------------------------------------------------------------
# Behavior and graph.
# ---------------------------------------------------------------------------


@register("basket_affinity", behavior.basket_affinity_sql(3, 50))
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24v — market-basket part-pair lift: order-keyed
    self-join (fan-out bounded by basket size), scalar N broadcast,
    TakeOrdered top-50."""
    return behavior.basket_affinity(load(spark, sf_dir, "lineitem"), 3, 50)


@register("conversion_attribution", behavior.conversion_attribution_sql())
def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24w — first/last-touch attribution per purchase in
    ONE window pass (conditional running min/max of an encoded touch
    key) — no conversions×touches self-join."""
    return behavior.conversion_attribution(load(spark, sf_dir, "events"))


@register("top_event_paths", behavior.top_event_paths_sql(3, 20))
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24x — top-20 three-step event-type journeys (sliding
    n-grams per user): one window shuffle, map-side-combined path
    counts, TakeOrdered top-k."""
    return behavior.top_event_paths(load(spark, sf_dir, "events"), 3, 20)


@register("item_cf_cosine", behavior.item_cf_cosine_sql(min_co_users=2))
def q_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23q — item-item collaborative-filtering cosine over
    implicit interaction counts (Sarwar et al. WWW'01): fact reduces to
    the rating matrix first; pair fan-out per user bounded by catalog
    size; norms broadcast."""
    return behavior.item_cf_cosine(load(spark, sf_dir, "events"), min_co_users=2)


@register(
    "graph_triangles",
    graph.triangle_count_sql(
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5)
    ),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24u — triangle count over the near-dup graph via
    degree-oriented node-iterator (Suri-Vassilvitskii): out-degree
    bounded O(sqrt(m)) per node, no last-reducer skew."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return graph.triangle_count(pairs)


# ---------------------------------------------------------------------------
# Data profiling: dependencies, skew, Benford.
# ---------------------------------------------------------------------------


_FD_CANDIDATES = [
    ("event_id", "user_id"),
    ("event_id", "event_type"),
    ("user_id", "event_type"),
    ("event_type", "user_id"),
]


@register("fd_profile", validation.fd_profile_sql("events", _FD_CANDIDATES))
def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11e — functional-dependency profiler: key detection /
    schema inference over candidate (lhs → rhs) pairs in ONE full-scan
    multi-distinct aggregate (Catalyst expand), reshaped long via
    stack."""
    return validation.fd_profile(load(spark, sf_dir, "events"), _FD_CANDIDATES)


_INC_ORACLE = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "events", "user_id"),
]


@register("inclusion_profile", validation.inclusion_profile_sql(_INC_ORACLE))
def q_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11f — inclusion-dependency (FK) discovery: each
    candidate's child reduces to distinct keys first, LEFT ANTI join
    against the parent's keys counts orphans (the last candidate is a
    deliberately-wrong FK, proving violations are reported)."""
    t = {n: load(spark, sf_dir, n) for n in ["lineitem", "orders", "part", "customer", "events"]}
    return validation.inclusion_profile(
        [
            ("lineitem", t["lineitem"], "l_orderkey", "orders", t["orders"], "o_orderkey"),
            ("lineitem", t["lineitem"], "l_partkey", "part", t["part"], "p_partkey"),
            ("orders", t["orders"], "o_custkey", "customer", t["customer"], "c_custkey"),
            ("customer", t["customer"], "c_custkey", "events", t["events"], "user_id"),
        ]
    )


@register(
    "data_skew_report",
    validation.skew_report_sql("lineitem", "l_partkey", top_n=20),
)
def q_data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11g — shuffle/join-key skew profiler: top-20 heavy
    keys of lineitem.l_partkey with table share and multiple-of-mean
    (operators/validation.py:skew_report) — the pre-flight readout for
    salting / AQE-skew-join decisions."""
    li = load(spark, sf_dir, "lineitem")
    return validation.skew_report(li, "l_partkey", top_n=20)


@register(
    "benford_price_test",
    validation.benford_test_sql("lineitem", "l_extendedprice"),
)
def q_benford_price_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11h — Benford first-digit screen over
    lineitem.l_extendedprice: per-digit observed vs expected share and
    χ² contribution (operators/validation.py:benford_test) — the
    fraud / synthetic-data / unit-mixup detector. One 9-group
    map-side-combined aggregate; scan-bound at any SF."""
    li = load(spark, sf_dir, "lineitem")
    return validation.benford_test(li, "l_extendedprice")
