from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from calidad_del_aire_etl_spark.operators import cleaning


def _ts(h):
    return dt.datetime(2024, 1, 1, h)


def test_interpolate_fills_interior_gap(spark):
    rows = [
        ("a", _ts(0), 1.0),
        ("a", _ts(1), None),
        ("a", _ts(2), 3.0),
        ("b", _ts(0), 10.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = cleaning.interpolate_linear(df, "v", ["g"], ["ts"], limit=3)
    got = {(r["g"], r["ts"].hour): r["v"] for r in out.collect()}
    assert got[("a", 1)] == 2.0
    assert got[("b", 0)] == 10.0


def test_interpolate_respects_limit_and_edges(spark):
    rows = [("a", _ts(i), None if 1 <= i <= 5 else float(i)) for i in range(8)]
    rows.append(("a", _ts(8), None))  # trailing NULL: no next neighbour
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = cleaning.interpolate_linear(df, "v", ["g"], ["ts"], limit=3)
    got = {r["ts"].hour: r["v"] for r in out.collect()}
    assert got[1] == 1.0 and got[2] == 2.0 and got[3] == 3.0  # within limit
    assert got[4] is None and got[5] is None  # beyond limit of 3
    assert got[8] is None  # trailing edge stays NULL


def test_interpolate_many_columns_equals_chained_single_calls(spark):
    """One multi-column call fills exactly what one call per column
    fills: interior runs within and beyond the limit, leading and
    trailing NULLs, each column's gaps in different places, two groups."""
    a = [None, 1.0, None, None, 4.0, None, None, None, None, 9.0, None]
    b = [2.0, None, 6.0, None, None, None, None, 5.0, None, None, 1.0]
    c = [None, None, None, 3.0, 3.5, None, 4.5, None, None, None, None]
    rows = [("x", _ts(i), a[i], b[i], c[i]) for i in range(len(a))]
    rows += [("y", _ts(i), c[i], a[i], b[i]) for i in range(len(a))]
    rows.append(("z", _ts(0), None, 7.0, None))  # one-row group
    df = spark.createDataFrame(rows, "g string, ts timestamp, a double, b double, c double")

    once = cleaning.interpolate_linear(df, ["a", "b", "c"], ["g"], ["ts"], limit=3)
    chained = df
    for col in ("a", "b", "c"):
        chained = cleaning.interpolate_linear(chained, col, ["g"], ["ts"], limit=3)
    assert once.columns == df.columns
    assert once.exceptAll(chained).count() == 0
    assert chained.exceptAll(once).count() == 0
    got = {(r["g"], r["ts"].hour): r for r in once.collect()}
    assert got[("x", 2)]["a"] == 2.0 and got[("x", 0)]["a"] is None
    assert got[("x", 8)]["a"] is None  # run of 4 > limit 3: its tail stays NULL
    assert got[("x", 10)]["a"] is None  # trailing NULL
    assert got[("y", 3)]["c"] == 5.8 and got[("y", 5)]["a"] == 4.0


def test_interpolate_out_col_needs_one_column(spark):
    df = spark.createDataFrame(
        [("a", _ts(0), 1.0, 2.0)], "g string, ts timestamp, u double, v double"
    )
    with pytest.raises(ValueError):
        cleaning.interpolate_linear(df, ["u", "v"], ["g"], ["ts"], out_col="w")


def test_iqr_clip_bounds(spark):
    vals = [float(i) for i in range(1, 101)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = cleaning.iqr_clip(df, ["v"], k=3.0)
    mx = out.agg(F.max("v")).collect()[0][0]
    # 101 sorted values → Q1 = value at idx 0.25·100 = 26, Q3 = 76,
    # IQR = 50 → hi = 76 + 3·50 = 226 (linear-interpolated exact percentile)
    assert mx == 226.0


def test_dedup_exact_keeps_min_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "k", 5.0), (2, "k", 6.0), (3, "j", 7.0)], "id long, k string, v double"
    )
    out = cleaning.dedup_exact(df, ["k"], ["id"]).collect()
    assert {(r["id"], r["k"]) for r in out} == {(1, "k"), (3, "j")}


def test_upsert_updates_win_and_inserts(spark):
    from calidad_del_aire_etl_spark.operators.cleaning import upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    got = sorted(map(tuple, upsert(base, updates, ["k"]).collect()))
    assert got == [(1, "a"), (2, "B"), (3, "C")]


def test_locf_carries_last_value_leading_nulls_stay(spark):
    rows = [
        ("a", _ts(0), None),   # leading NULL: nothing to carry
        ("a", _ts(1), 5.0),
        ("a", _ts(2), None),   # carries 5.0
        ("a", _ts(3), None),   # still 5.0 (no limit in LOCF)
        ("a", _ts(4), 7.0),
        ("b", _ts(0), 1.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = cleaning.locf_fill(df, "v", ["g"], ["ts"])
    got = {(r["g"], r["ts"].hour): r["v"] for r in out.collect()}
    assert got[("a", 0)] is None
    assert got[("a", 2)] == 5.0 and got[("a", 3)] == 5.0
    assert got[("a", 4)] == 7.0 and got[("b", 0)] == 1.0


def test_resample_spine_materializes_gap_buckets(spark):
    import datetime as dt

    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, 0), 10.0),
        ("a", dt.datetime(2024, 1, 1, 0, 10), 20.0),  # same 15m bucket
        ("a", dt.datetime(2024, 1, 1, 1, 0), 30.0),   # 3 empty buckets between
        ("b", dt.datetime(2024, 1, 1, 0, 20), 1.0),   # single-bucket group
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = cleaning.resample_spine(df, "ts", "g", "v", bucket_minutes=15)
    a = sorted(
        (r["bucket_us"], r["n_obs"], r["avg_value"])
        for r in out.collect() if r["g"] == "a"
    )
    assert len(a) == 5  # 00:00 .. 01:00 inclusive
    assert a[0][1] == 2 and a[0][2] == 15.0  # two obs averaged
    assert [x[1] for x in a[1:4]] == [0, 0, 0]  # gap buckets exist, empty
    assert all(x[2] is None for x in a[1:4])
    assert a[4][1] == 1 and a[4][2] == 30.0
    b = [r for r in out.collect() if r["g"] == "b"]
    assert len(b) == 1 and b[0]["n_obs"] == 1


def test_sensor_gaps_reports_only_real_gaps(spark):
    from calidad_del_aire_etl_spark.operators.cleaning import sensor_gaps

    rows = [
        # sensor 1: hourly feed with one 5-hour hole
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 01:00:00"),
        (1, "2024-01-01 06:00:00"), (1, "2024-01-01 07:00:00"),
        # sensor 2: no gap over threshold
        (2, "2024-01-01 00:00:00"), (2, "2024-01-01 01:30:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "cast(ts as timestamp) as ts"
    )
    out = sensor_gaps(df, "user_id", "ts", max_gap_minutes=120).collect()
    assert len(out) == 1
    g = out[0]
    assert g["user_id"] == 1 and g["gap_minutes"] == 300.0
    assert str(g["gap_start"]).startswith("2024-01-01 01:00") and str(
        g["gap_end"]
    ).startswith("2024-01-01 06:00")
