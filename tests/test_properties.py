"""Property-based tests (hypothesis) for the invariants SURVEY §5 names:
AQI monotonicity, dedup idempotence, interpolation boundedness.

Each example is a Spark job, so example counts are kept small; the
properties still cover the piecewise boundaries and degenerate inputs
(runs of nulls, all-duplicate keys) far better than point tests.
"""


from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from calidad_del_aire_etl_spark import functions as fx
from calidad_del_aire_etl_spark.operators import cleaning

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

pm25s = st.floats(min_value=0.0, max_value=600.0, allow_nan=False, width=32)


@given(st.lists(pm25s, min_size=2, max_size=40))
@SET
def test_aqi_is_monotone_and_bounded(spark, values):
    df = spark.createDataFrame([(float(v),) for v in values], "pm25 double")
    rows = df.select("pm25", fx.aqi_from_pm25(F.col("pm25")).alias("aqi")).collect()
    by_input = sorted(rows, key=lambda r: r["pm25"])
    aqis = [r["aqi"] for r in by_input]
    assert all(a is not None and a >= 0.0 for a in aqis)
    assert all(a <= b + 1e-6 for a, b in zip(aqis, aqis[1:]))


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_dedup_exact_is_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(
        [(i, k, g, float(v)) for i, (k, g, v) in enumerate(rows)],
        "rid int, k int, g int, v double",
    )
    once = cleaning.dedup_exact(df, key_cols=["k", "g"], tiebreak_cols=["rid"])
    twice = cleaning.dedup_exact(once, key_cols=["k", "g"], tiebreak_cols=["rid"])
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    # exactly one survivor per key, and it is the minimal rid
    expected = {}
    for i, (k, g, v) in enumerate(rows):
        expected.setdefault((k, g), (i, k, g, float(v)))
    assert got_once == sorted(expected.values())


@given(
    st.lists(
        st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        min_size=2,
        max_size=25,
    )
)
@SET
def test_interpolation_fills_between_neighbors(spark, seq):
    df = spark.createDataFrame(
        [(i, float(v) if v is not None else None) for i, v in enumerate(seq)],
        "pos int, v double",
    )
    out = cleaning.interpolate_linear(
        df, "v", group_cols=[], order_cols=["pos"], limit=3, out_col="filled"
    )
    got = {r["pos"]: r["filled"] for r in out.collect()}
    vals = list(seq)
    for i, v in enumerate(vals):
        if v is not None:
            assert got[i] == v
            continue
        prevs = [(j, x) for j, x in enumerate(vals[:i]) if x is not None]
        nexts = [(j, x) for j, x in enumerate(vals[i + 1 :], i + 1) if x is not None]
        if prevs and nexts and i - prevs[-1][0] <= 3:
            lo = min(prevs[-1][1], nexts[0][1])
            hi = max(prevs[-1][1], nexts[0][1])
            assert got[i] is not None and lo - 1e-4 <= got[i] <= hi + 1e-4
        else:
            assert got[i] is None


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
            st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        ),
        min_size=2,
        max_size=30,
    ),
    st.integers(1, 4),
)
@SET
def test_interpolation_many_columns_equals_one_call_per_column(spark, rows, limit):
    """The multi-column form fills each column exactly as a call for that
    column alone does, whatever the NULL pattern, group split or limit."""
    df = spark.createDataFrame(
        [(i, g, u, v) for i, (g, u, v) in enumerate(rows)],
        "pos int, g int, u double, v double",
    )
    once = cleaning.interpolate_linear(
        df, ["u", "v"], group_cols=["g"], order_cols=["pos"], limit=limit
    )
    chained = df
    for c in ("u", "v"):
        chained = cleaning.interpolate_linear(
            chained, c, group_cols=["g"], order_cols=["pos"], limit=limit
        )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, chained.collect()))


@given(
    st.dictionaries(
        st.integers(0, 400), st.floats(0.1, 100, allow_nan=False), min_size=12, max_size=40
    ),
    st.integers(3, 10),
)
@SET
@pytest.mark.slow
def test_priority_sample_monotone_in_weight(spark, weights, k):
    """Raising one sampled row's weight can never evict THAT row: its
    priority w/u only grows. (It may displace a different row — that is
    the sampling working.)"""
    from calidad_del_aire_etl_spark.operators import corpus

    rows = [(i, w) for i, w in weights.items()]
    df = spark.createDataFrame(rows, "id long, w double")
    picked = {
        r.id for r in corpus.weighted_sample_topk(df, "id", F.col("w"), k=k).collect()
    }
    boost = picked.pop()
    df2 = df.withColumn(
        "w", F.when(F.col("id") == boost, F.col("w") * 10).otherwise(F.col("w"))
    )
    picked2 = {
        r.id for r in corpus.weighted_sample_topk(df2, "id", F.col("w"), k=k).collect()
    }
    assert boost in picked2


@given(
    st.lists(st.integers(0, 30), min_size=30, max_size=120),
    st.integers(3, 8),
)
@SET
@pytest.mark.slow
def test_misra_gries_bound_on_random_streams(spark, values, capacity):
    from calidad_del_aire_etl_spark.operators import sketches

    df = spark.createDataFrame([(f"v{v}",) for v in values], "v string").repartition(3)
    exact = {r.v: r["count"] for r in df.groupBy("v").count().collect()}
    got = sketches.heavy_hitters(df, "v", k=50, capacity=capacity).collect()
    for r in got:
        assert r.est <= exact[r.item] <= r.est_max, (r, exact[r.item])


edge_lists = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=30,
)


@given(edge_lists)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_star_cc_matches_union_find(spark, raw_edges):
    """Alternating-star connected components must agree with a
    pure-Python union-find on arbitrary random graphs — including
    multi-edges, both orientations of the same edge, and isolated
    vertices (every id 0-24 is a document)."""
    from calidad_del_aire_etl_spark.operators.dedup import (
        resolve_duplicate_clusters_star,
    )

    n = 25
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw_edges:
        parent[find(a)] = find(b)
    # canonical label = min id per component
    comp_min = {}
    for v in range(n):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expected = {v: comp_min[find(v)] for v in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw_edges] or [(0, 0)],
        ["id_a", "id_b"],
    ).filter("id_a != id_b")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_duplicate_clusters_star(docs, "doc_id", pairs).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.text(alphabet="abcdef ", min_size=0, max_size=24),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=60, deadline=None)
def test_histogram_l1_never_exceeds_twice_edit_distance(texts, max_dist):
    """The fuzzy_pairs prefilter invariant, property-tested: for ANY two
    strings, L1(hist_a, hist_b) ≤ 2·levenshtein(a, b) — one edit moves
    at most two histogram units — so the `L1 ≤ 2·max_dist` filter can
    never drop a pair the edit-distance predicate would keep."""
    import itertools

    def hist(t, bins=16):
        h = [0] * bins
        for ch in t:
            h[ord(ch) % bins] += 1
        return h

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[len(b)]

    for a, b in itertools.combinations(texts, 2):
        l1 = sum(abs(x - y) for x, y in zip(hist(a), hist(b)))
        assert l1 <= 2 * lev(a, b)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=120, deadline=None)
def test_skyline_batch_prune_never_drops_a_skyline_point(points):
    """Phase-1 soundness for ANY point multiset (small grid forces
    heavy ties/duplicates): every point the quadratic dominance
    definition keeps must survive the batch prune."""
    import pandas as pd

    from calidad_del_aire_etl_spark.operators.analytics2 import (
        skyline_prune_batch,
    )

    pdf = pd.DataFrame(points, columns=["mn", "mx"])
    pdf["k"] = range(len(pdf))
    kept = set(skyline_prune_batch(pdf, "mn", "mx")["k"])

    def dominated(i):
        pi = points[i]
        return any(
            j != i
            and points[j][0] <= pi[0]
            and points[j][1] >= pi[1]
            and (points[j][0] < pi[0] or points[j][1] > pi[1])
            for j in range(len(points))
        )

    skyline = {i for i in range(len(points)) if not dominated(i)}
    assert skyline <= kept  # prune is conservative: may keep more, never less
