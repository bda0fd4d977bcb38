"""Mergeable sketches: HLL, Misra-Gries, Count-Min, Bloom and quantile
histograms — registered queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import general, sketches
from ..operators import bloom as _bloom
from ..operators import cms as _cms
from ..registry import load, register


@register(
    "hll_rollup_merge",
    sketches.hll_reaggregate_sql("events", "ts", "event_type", "user_id", lg_k=12),
)
def q_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15d — mergeable HLL distinct counting: daily
    (date, event_type) register sets MAX-merged into month×type
    estimates without rescanning the fact (tolerance vs exact
    pytest-asserted in tests/test_sketches.py).

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    the from-scratch HLL's registers and estimator are pure
    integer/literal-identical arithmetic (operators/sketches.py), so
    the DuckDB twin replays the whole sketch bit-for-bit — Datasketches
    bytes no longer gate this key."""
    ev = load(spark, sf_dir, "events")
    return sketches.hll_reaggregate(ev, "ts", "event_type", "user_id", lg_k=12)


@register("sketch_profile", None)  # sketch internals differ per engine — rows-only
def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15c — HLL++ distinct + approx-percentile sketch profile
    (the 100 TB path for cardinality/quantiles; accuracy vs exact is
    asserted in tests/test_general2.py)."""
    return general.sketch_profile(load(spark, sf_dir, "events"))


@register(
    "heavy_hitters_topk",
    sketches.heavy_hitters_exact_sql("events", "event_type", k=5),
)
def q_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over event_type. capacity=64 >> the
    column's cardinality, so no partition ever evicts, the decrement
    total is 0, and the sketch is provably exact — which is what lets an
    exact groupBy-count oracle hash-match it. The evicting (approximate)
    regime is bound-tested in tests/test_sketches.py."""
    ev = load(spark, sf_dir, "events", spread=True)
    return sketches.heavy_hitters(ev, "event_type", k=5, capacity=64)


@register(
    "bloom_ingest_dedup",
    _bloom.bloom_new_rows_sql(
        "documents", "doc_id", "doc_id % 2 = 0", "t.doc_id AS doc_id", fpp=0.01
    ),
)
def q_bloom_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest dedup: 'existing table' = even doc_ids,
    incoming batch = all docs; survivors are the (probably) new rows.
    No false negatives by construction; fp rate bound and determinism
    asserted in tests/test_bloom.py.

    Promoted from rows-only to FULL hash parity (r13): with the double
    hash moved to the engines' shared md5-prefix bigints and the (m, k)
    sizing arithmetic pinned to literal constants (operators/bloom.py),
    every set bit is an integer fact the DuckDB twin replays — it
    materializes the touched-bit set and the k-probe conjunction, so
    even the FALSE POSITIVES match exactly."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    return _bloom.bloom_new_rows(existing, docs, "doc_id", fpp=0.01)


@register(
    "cms_user_counts",
    _cms.cms_frequency_profile_sql("events", "user_id", eps=0.001, delta=0.01),
)
def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22c — Count-Min per-user event-frequency estimates:
    mergeable d×w partition sketches sum-merged on the driver, broadcast
    vectorized probe; never-undercount + eps·N bounds pytest-proven
    (tests/test_cms.py).

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7
    direction): with the double hash moved to the engines' shared
    md5-prefix bigints (operators/cms.py), every CMS counter is an
    exact integer both engines reproduce — the twin replays the touched
    cells and the min-probe, no sketch-byte opacity left."""
    ev = load(spark, sf_dir, "events")
    return _cms.cms_frequency_profile(ev, "user_id", eps=0.001, delta=0.01)


@register(
    "quantile_rollup_merge",
    sketches.quantile_histogram_rollup_sql("events", "ts", "event_type", "value", 256),
)
def q_quantile_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22d — mergeable histogram percentiles: daily 256-bin
    partials per event type sum-merged to month-grain p50/p95 with no
    fact rescan (the rolling-percentile analog of hll_rollup_merge);
    in-bin interpolation error ≤ one bin width, pytest-pinned."""
    ev = load(spark, sf_dir, "events")
    return sketches.quantile_histogram_rollup(ev, "ts", "event_type", "value", 256)
