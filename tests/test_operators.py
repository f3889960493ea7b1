"""Unit tests on tiny inline frames (SURVEY.md §5.2 #2): null group
keys, ragged unions, parse failures, rounding pins, dedup tie-breaks.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.temporal import (
    minutes_between,
    month_windows,
    parse_timestamps,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.aggregates import (
    group_agg,
    group_agg_bitmap_fused,
    group_agg_single_distinct,
    null_profile,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.dedup import (
    latest_per_key,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.relational import (
    union_all,
)


def test_latest_per_key_tiebreak_and_null_filter(spark):
    # Mirrors the reference's dedup semantics (app.py:463-480): keep the
    # max-order row per key, pre-filtering NULL district rows; known-
    # entity probe analog of app.py:430.
    rows = [
        ("E1", "2024-01-01T10:00:00", 1, "D1"),
        ("E1", "2024-01-01T11:00:00", 2, None),   # later but null district
        ("E1", "2024-01-01T09:00:00", 3, "D2"),
        ("E2", "2024-01-01T08:00:00", 4, "D9"),
        ("E3", "2024-01-01T08:00:00", 5, "D5"),
        ("E3", "2024-01-01T08:00:00", 6, "D6"),   # ts tie → higher ind wins
    ]
    df = spark.createDataFrame(rows, "event_number string, ts string, ind long, district string")
    out = latest_per_key(
        df, keys=["event_number"], order_by="ts", tie_breakers=["ind"],
        keep_where_not_null="district",
    )
    got = {r["event_number"]: (r["ind"], r["district"]) for r in out.collect()}
    assert got == {"E1": (1, "D1"), "E2": (4, "D9"), "E3": (6, "D6")}


def test_cfs_reference_pipeline_dedups_then_aggregates(spark):
    # The paper's dataflow end to end on a CFS-shaped frame: string
    # times parse, the older E1 record goes, the E2 tie on
    # create_time_incident goes to the higher ind, and E3's null-district
    # row is dropped before the dedup so its older record survives.
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.plans.pipeline import (
        cfs_reference_pipeline,
    )

    rows = [
        ("E1", "2024-03-01T08:00:00.000000", 1, "D1", "P1", 10.0),  # older
        ("E1", "2024-03-01T09:30:00.000000", 2, "D1", "P1", 20.0),
        ("E2", "2024-03-01T09:15:00.000000", 3, "D2", "P1", 5.0),   # tie loser
        ("E2", "2024-03-01T09:15:00.000000", 4, "D2", "P1", 7.0),
        ("E3", "2024-03-01T09:45:00.000000", 5, None, "P1", 100.0),  # null district
        ("E3", "2024-03-01T09:05:00.000000", 6, "D3", "P1", 3.0),
        ("E4", "2024-03-01T10:20:00.000000", 7, "D1", "P2", 8.0),
    ]
    raw = spark.createDataFrame(
        rows,
        "event_number string, create_time_incident string, ind long, "
        "district string, priority string, dispatch_minutes double",
    )
    out = cfs_reference_pipeline(
        raw,
        entity_key="event_number",
        order_col="create_time_incident",
        tie_breaker="ind",
        group_keys=["year", "month", "day", "hour", "priority"],
        metric_cols=["dispatch_minutes"],
        not_null_col="district",
    )
    assert out.columns == [
        "year", "month", "day", "hour", "priority",
        "nunique_event_number", "avg_dispatch_minutes",
    ]
    assert sorted(map(tuple, out.collect())) == [
        (2024, 3, 1, 9, "P1", 3, 10.0),  # (20 + 7 + 3) / 3
        (2024, 3, 1, 10, "P2", 1, 8.0),
    ]


def test_group_agg_null_keys_and_countdistinct_nulls(spark):
    # dropna=False parity (app.py:562): NULL keys form groups; nunique
    # ignores NULL values (pandas nunique default == countDistinct).
    rows = [("a", "x"), ("a", None), (None, "y"), (None, "y"), (None, None)]
    df = spark.createDataFrame(rows, "k string, v string")
    out = {r["k"]: r["nunique_v"] for r in group_agg(df, ["k"], count_distinct=["v"]).collect()}
    assert out == {"a": 1, None: 1}


def test_group_agg_single_distinct_matches_builtin(spark):
    # The no-Expand fast path must be bit-identical to the built-in
    # plan on every semantic edge: NULL distinct values (excluded from
    # nunique, included in n_rows), NULL group keys (form groups),
    # int_sums finalizers, and avg-of-nulls.
    rows = [
        ("a", "x", 1.0, 100),
        ("a", "x", 3.0, 200),
        ("a", None, None, 300),   # NULL distinct: counted in n_rows only
        (None, "y", 5.0, 400),
        (None, "y", 7.0, None),
        (None, None, None, None),
    ]
    df = spark.createDataFrame(rows, "k string, d string, m double, c long")
    fast = group_agg_single_distinct(
        df, keys=["k"], distinct_col="d", avg=["m"],
        int_sums={"total_c": F.col("c")},
        finalize={"total_c": lambda s: s * 10},
        count_alias="n_rows",
    )
    ref = df.groupBy("k").agg(
        F.countDistinct("d").alias("nunique_d"),
        F.round(F.avg("m"), 4).alias("avg_m"),
        (F.sum("c") * 10).alias("total_c"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    key = lambda r: (r["k"] is not None, r["k"])
    assert sorted(fast.collect(), key=key) == sorted(ref.collect(), key=key)
    assert fast.columns == ref.columns
    # dtype parity (nullability may differ: sum-combine is nullable
    # where count isn't — invisible to the driver's pandas compare).
    assert fast.dtypes == ref.dtypes


def test_group_agg_integral_distinct_bitmap_paths(spark):
    """r11 (VERDICT r10 #4): for an integral distinct column, the
    fused one-scan bitmap spelling must match the built-in plan —
    including NULL ids (excluded
    from nunique, kept in n_rows/avgs), NEGATIVE ids (the (k>>6,
    k&63) map is a bijection over all longs), an all-NULL-id group
    (nunique 0, group preserved), and NULL group keys."""
    rows = [
        ("a", 1, 1.0, 100),
        ("a", 1, 3.0, 200),
        ("a", -1, None, 300),      # negative id
        ("a", -64, 2.0, 50),       # negative bucket boundary
        ("a", 63, 4.0, None),      # bucket-edge bit
        ("a", 64, 6.0, 10),        # next bucket
        ("a", None, 8.0, 20),      # NULL id: n_rows/avg only
        ("b", None, 5.0, 400),     # group with ONLY null ids
        (None, 7, 9.0, None),      # NULL group key
    ]
    df = spark.createDataFrame(rows, "k string, d long, m double, c long")
    ref = df.groupBy("k").agg(
        F.countDistinct("d").alias("nunique_d"),
        F.round(F.avg("m"), 4).alias("avg_m"),
        (F.sum("c") * 10).alias("total_c"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    kw = dict(
        keys=["k"], distinct_col="d", avg=["m"],
        int_sums={"total_c": F.col("c")},
        finalize={"total_c": lambda s: s * 10},
        count_alias="n_rows",
    )
    key = lambda r: (r["k"] is not None, r["k"])
    expected = sorted(ref.collect(), key=key)
    out = group_agg_bitmap_fused(df, **kw)
    assert sorted(out.collect(), key=key) == expected
    assert out.columns == ref.columns
    assert out.dtypes == ref.dtypes
    with pytest.raises(ValueError, match="integral"):
        group_agg_bitmap_fused(
            df.withColumn("d", F.col("d").cast("string")), **kw
        )


def test_union_all_ragged_columns(spark):
    # The accumulator concat (app.py:165-186) with ragged API months.
    a = spark.createDataFrame([(1, "x")], "id long, extra string")
    b = spark.createDataFrame([(2,)], "id long")
    out = union_all([a, b]).orderBy("id").collect()
    assert [(r["id"], r["extra"]) for r in out] == [(1, "x"), (2, None)]


def test_null_profile_all_null_column(spark):
    df = spark.createDataFrame([(None, 1), (None, 2)], "dead string, alive long")
    row = null_profile(df).first()
    assert row["dead"] == 100.0 and row["alive"] == 0.0


def test_parse_timestamps_malformed_to_null(spark):
    # F1 semantics: NULL on malformed (delta vs pandas raise) — and must
    # not throw under Spark 4 ANSI mode.
    df = spark.createDataFrame(
        [("2024-03-05T10:20:30.123456",), ("not-a-time",), (None,)],
        "create_time_incident string",
    )
    out = parse_timestamps(df).collect()
    assert out[0][0] == dt.datetime(2024, 3, 5, 10, 20, 30, 123456)
    assert out[1][0] is None and out[2][0] is None


def test_minutes_between_rounding_pins(spark):
    # 4.5 s = 0.075 min sits exactly on the scale-2 rounding tie; the
    # integer implementation must give HALF_UP = 0.08 (float paths give
    # engine-dependent results). Negative diffs round away from zero.
    rows = [
        ("2024-01-01T00:00:00.000000", "2024-01-01T00:00:04.500000", 0.08),
        ("2024-01-01T00:00:04.500000", "2024-01-01T00:00:00.000000", -0.08),
        ("2024-01-01T00:00:00.000000", "2024-01-01T01:30:00.000000", 90.0),
        ("2024-01-01T00:00:00.100000", "2024-01-01T00:00:00.400000", 0.01),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], "t0 string, t1 string")
    df = parse_timestamps(df, columns=("t0", "t1"))
    got = [r[0] for r in df.select(minutes_between("t1", "t0")).collect()]
    assert got == [w for _, _, w in rows]


def test_month_windows_reference_shape():
    # datepairs construction (app.py:95-134): first/last pinned,
    # non-overlapping, +1-day shift between windows.
    wins = month_windows(dt.date(2019, 1, 15), dt.date(2019, 4, 10))
    assert wins[0][0] == dt.date(2019, 1, 15)
    assert wins[-1][1] == dt.date(2019, 4, 10)
    for (s1, e1), (s2, _) in zip(wins, wins[1:]):
        assert s2 == e1 + dt.timedelta(days=1)
    # single-day range
    assert month_windows(dt.date(2020, 5, 5), dt.date(2020, 5, 5)) == [
        (dt.date(2020, 5, 5), dt.date(2020, 5, 5))
    ]


def test_composite_key_concat(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.scalar import (
        composite_key,
    )

    df = spark.createDataFrame([("CPD1", 7)], "e string, i long")
    assert df.select(composite_key("e", "i")).first()[0] == "CPD1, 7"


def test_bucketed_range_join_matches_nested_loop(spark):
    from collections import Counter

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.relational import (
        bucketed_range_join,
    )

    bands = [
        ("low", 0.0, 10.0),
        ("mid", 10.0, 35.0),   # straddles bucket boundaries
        ("top", 35.0, 1e18),   # open-topped -> folds into cap bucket
    ]
    fact = spark.createDataFrame(
        [(0.0,), (9.99,), (10.0,), (34.99,), (35.0,), (1e6,), (-5.0,), (None,)],
        "v double",
    )
    bucketed = bucketed_range_join(fact, bands, value_col="v", bucket_width=10.0)
    dim = spark.createDataFrame(bands, "band string, lo double, hi double")
    nested = fact.join(
        F.broadcast(dim), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    ).select(*bucketed.columns)
    assert Counter(map(tuple, bucketed.collect())) == Counter(
        map(tuple, nested.collect())
    )
    # the point of the operator: equi hash join, not a nested loop
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_range_join_unbounded_and_huge_bands(spark):
    # ADVICE r1 (low): float('inf') must not OverflowError, and a
    # hugely-negative finite lo must not enumerate quintillions of
    # buckets. Both tails fold into one cap/floor bucket.
    from collections import Counter

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.relational import (
        bucketed_range_join,
    )

    bands = [
        ("below", float("-inf"), 0.0),
        ("low", 0.0, 10.0),
        ("huge_neg", -1e18, 5.0),  # overlaps; huge-negative finite lo
        ("top", 10.0, float("inf")),
    ]
    fact = spark.createDataFrame(
        [(-1e300,), (-7.0,), (0.0,), (4.0,), (9.99,), (10.0,), (1e300,), (None,)],
        "v double",
    )
    bucketed = bucketed_range_join(fact, bands, value_col="v", bucket_width=10.0)
    dim = spark.createDataFrame(bands, "band string, lo double, hi double")
    nested = fact.join(
        F.broadcast(dim), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    ).select(*bucketed.columns)
    assert Counter(map(tuple, bucketed.collect())) == Counter(
        map(tuple, nested.collect())
    )
    # tails are O(1) dim rows: bucket domain spans only the finite
    # boundaries (floor(-inf)=floor bucket, inf=cap bucket)
    n_dim_rows = bucketed._jdf.queryExecution().analyzed().toString().count("\n")
    assert n_dim_rows < 100  # sanity: plan is small, no bucket explosion
