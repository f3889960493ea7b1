"""Unit tests for as-of join, sessionize, cube, percentiles, and the
embedding near-dup tiers (SURVEY.md §5.2 #2/#4: tiny inline frames +
property checks)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    aggregates as ag,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    asof as ao,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    similarity as sim,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
    read_testdata,
)

from .conftest import SF_ORACLE, SF_SMOKE

T0 = dt.datetime(2020, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def test_asof_join_inclusive_and_nulls(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "L1"), (1, _ts(0), "L2"), (2, _ts(300), "L3")],
        "k long, ts timestamp_ntz, lid string",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), "R1"), (1, _ts(10), "R2"), (2, _ts(1440), "R3")],
        "k long, ts timestamp_ntz, rid string",
    )
    out = {
        r["lid"]: r["asof_rid"]
        for r in ao.as_of_join(left, right, on=["k"], payload=["rid"]).collect()
    }
    # equal timestamps match (inclusive); earlier left rows get no match;
    # right rows strictly in the future never match.
    assert out == {"L1": "R2", "L2": None, "L3": None}


def test_asof_join_carries_ts_and_is_deterministic(spark):
    left = spark.createDataFrame(
        [(1, _ts(100), "L1")], "k long, ts timestamp_ntz, lid string"
    )
    right = spark.createDataFrame(
        [(1, _ts(40), "R1"), (1, _ts(90), "R2")],
        "k long, ts timestamp_ntz, rid string",
    )
    row = ao.as_of_join(left, right, on=["k"], payload=["rid"]).collect()[0]
    assert row["asof_rid"] == "R2" and row["asof_ts"] == _ts(90)


def test_asof_join_null_payload_row_is_atomic(spark):
    # The matched right row (t=90) has rid=NULL. The output must carry
    # that row AS-IS — rid stays NULL — not stitch rid from the older
    # t=40 row onto t=90's price (ADVICE r1, high).
    left = spark.createDataFrame(
        [(1, _ts(100), "L1")], "k long, ts timestamp_ntz, lid string"
    )
    right = spark.createDataFrame(
        [(1, _ts(40), "R1", 10.0), (1, _ts(90), None, 20.0)],
        "k long, ts timestamp_ntz, rid string, price double",
    )
    row = ao.as_of_join(left, right, on=["k"], payload=["rid", "price"]).collect()[0]
    assert row["asof_ts"] == _ts(90)
    assert row["asof_price"] == 20.0
    assert row["asof_rid"] is None  # not back-filled to "R1"


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "L1"), (1, _ts(100), "L2"), (2, _ts(0), "L3")],
        "k long, ts timestamp_ntz, lid string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), "R0"), (1, _ts(50), "R1"), (1, _ts(5), "R2")],
        "k long, ts timestamp_ntz, rid string",
    )
    out = {
        r["lid"]: r["asof_rid"]
        for r in ao.as_of_join(
            left, right, on=["k"], payload=["rid"], direction="forward"
        ).collect()
    }
    # L1: equal ts matches (inclusive); L2: no future right; L3: no key-2 rows
    assert out == {"L1": "R0", "L2": None, "L3": None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts(100), "L1"), (1, _ts(200), "L2")],
        "k long, ts timestamp_ntz, lid string",
    )
    right = spark.createDataFrame(
        [(1, _ts(95), "R1"), (1, _ts(120), "R2")],
        "k long, ts timestamp_ntz, rid string",
    )
    # backward with 10-minute tolerance: L1 matches R1 (5m gap);
    # L2's nearest prior right is R2 (80m gap) -> dropped to NULL.
    out = {
        r["lid"]: (r["asof_rid"], r["asof_ts"])
        for r in ao.as_of_join(
            left, right, on=["k"], payload=["rid"], tolerance_minutes=10.0
        ).collect()
    }
    assert out["L1"] == ("R1", _ts(95))
    assert out["L2"] == (None, None)


def test_sessionize_gap_boundary(spark):
    # gaps: 30m exactly (same session), 30m+1s (new session)
    df = spark.createDataFrame(
        [
            (1, _ts(0), 1),
            (1, _ts(30), 2),  # ==30m gap: same session
            (1, _ts(60.5), 3),  # 30.5m gap: new session
            (2, _ts(0), 4),
        ],
        "user long, ts timestamp_ntz, eid long",
    )
    out = {
        r["eid"]: r["session_seq"]
        for r in ao.sessionize(df, key=["user"], ts="ts", gap_minutes=30.0).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_percentiles_are_dyadic_cents(spark):
    df = spark.createDataFrame(
        [("a", 1.01), ("a", 1.02), ("a", 1.03), ("a", 1.06)], "k string, v double"
    )
    row = ag.percentiles_cents(df, "v", ["k"]).collect()[0]
    # interpolation at quarter fractions over integer cents is exact
    assert row["p25_cents"] == 101.75
    assert row["p50_cents"] == 102.5
    assert row["p75_cents"] == 103.75


def test_lsh_near_dup_is_subset_of_exact(spark):
    emb = read_testdata(spark, SF_ORACLE, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.4).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.4, bucket_planes=4).collect()
    }
    assert blocked <= exact
    assert len(blocked) > 0  # recall is not zero at 4 planes


def test_grouped_median_cents_nulls_and_even_groups(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        pandas_ext as pe,
    )

    df = spark.createDataFrame(
        [("a", 1.00), ("a", 2.00), ("a", None), ("b", 5.55), ("c", None)],
        "k string, v double",
    )
    out = {r["k"]: r["median_cents"] for r in pe.grouped_median_cents(df, "v", ["k"]).collect()}
    assert out["a"] == 150.0  # even count: midpoint, dyadic-exact
    assert out["b"] == 555.0
    assert out["c"] is None  # all-null group


def test_user_event_gaps_first_is_null(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        pandas_ext as pe,
    )

    df = spark.createDataFrame(
        [(1, 10, _ts(0)), (1, 11, _ts(2)), (2, 20, _ts(5))],
        "user_id long, event_id long, ts timestamp_ntz",
    )
    out = {r["event_id"]: r["gap_us"] for r in pe.user_event_gaps(df).collect()}
    assert out == {10: None, 11: 120_000_000, 20: None}


def test_user_event_gaps_native_parity(spark):
    """The pure-window spelling must equal the applyInPandas one
    row-for-row (same columns, dtypes, values) on real event data —
    the D1 escape hatch's Arrow cost is a choice, not a semantic
    difference (VERDICT r3 #7)."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        pandas_ext as pe,
    )

    ev = read_testdata(spark, SF_SMOKE, "events")
    arrow = pe.user_event_gaps(ev)
    native = pe.user_event_gaps_native(ev)
    assert arrow.schema == native.schema
    a = sorted(arrow.collect(), key=lambda r: (r["user_id"], r["event_id"]))
    b = sorted(native.collect(), key=lambda r: (r["user_id"], r["event_id"]))
    assert a == b


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """M6 — event-time-partitioned parquet layout gives partition
    pruning on read (the physical analog of the reference's event-time
    fetch windows, app.py:101-134)."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
        write_parquet,
    )

    ev = read_testdata(spark, SF_ORACLE, "events").withColumn(
        "day", F.dayofmonth("ts")
    )
    out = str(tmp_path / "part")
    write_parquet(ev, out, partition_by=("day",))

    target = ev.groupBy("day").count().orderBy(F.desc("count")).first()["day"]
    back = spark.read.parquet(out).filter(F.col("day") == target)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan or "day#" in plan
    got = back.count()
    want = ev.filter(F.col("day") == target).count()
    assert got == want > 0
    # pruning proof: per-month directories exist and the target is one
    import glob
    import os as _os

    assert _os.path.isdir(f"{out}/day={target}")
    assert len(glob.glob(f"{out}/day=*")) > 1  # layout actually split


def test_approx_profile_error_bounds(spark):
    ev = read_testdata(spark, SF_ORACLE, "events")
    approx = {
        r["event_type"]: r["approx_nunique_user_id"]
        for r in ag.approx_profile(
            ev, keys=["event_type"], distinct_col="user_id", quantile_col="value"
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in approx.items():
        assert abs(est - exact[k]) / exact[k] < 0.15  # rsd=0.05, generous bound


def test_interpolate_daily_hand_computed(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.temporal import (
        interpolate_daily,
    )

    rows = [
        # user 1: observed day 1 (two events -> mean 1.5) and day 4 (4.0)
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 12:00:00", 2.0),
        (1, "2024-01-04 09:00:00", 4.0),
        # user 2: negative-to-positive ramp, single gap day
        (2, "2024-02-01 00:00:00", -1.0),
        (2, "2024-02-03 00:00:00", 2.0),
        # user 3: single observation -> spine is one day, no interp
        (3, "2024-03-05 05:00:00", 7.25),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, value double").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "value"
    )
    out = {
        (r["user_id"], r["day"]): (r["value_micro"], r["src"])
        for r in interpolate_daily(ev, "user_id", "ts", "value").collect()
    }
    assert out[(1, "2024-01-01")] == (1_500_000, "observed")
    # linear: 1.5e6 -> 4e6 over 3 days
    assert out[(1, "2024-01-02")] == (1_500_000 + (4_000_000 - 1_500_000) // 3, "interp")
    assert out[(1, "2024-01-03")] == (1_500_000 + (4_000_000 - 1_500_000) * 2 // 3, "interp")
    assert out[(1, "2024-01-04")] == (4_000_000, "observed")
    assert out[(2, "2024-02-02")] == (-1_000_000 + 3_000_000 // 2, "interp")
    assert out[(3, "2024-03-05")] == (7_250_000, "observed")
    assert len(out) == 4 + 3 + 1


# ---------------------------------------------------------------------------
# Fixed-iteration integer PageRank (r8, operators/graph.py)
# ---------------------------------------------------------------------------


def test_pagerank_hand_graph_exact_values(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        graph as gr,
    )

    # a -> b, a -> c, b -> c, c -> a  (the classic 3-node example)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["rank"]
        for r in gr.pagerank_fixed(edges, iterations=2).collect()
    }
    # hand-computed with the integer recurrence (scale 1e6, 85/100):
    # iter1: contrib(a)=1000000; contrib(b)=1000000 div 2 = 500000;
    #        contrib(c)=500000+1000000=1500000
    # r1:    a=1000000, b=575000, c=1425000
    # iter2: contrib(a)=1425000; contrib(b)=1000000 div 2=500000;
    #        contrib(c)=500000+575000=1075000
    # r2:    a=150000+(85*1425000) div 100 = 1361250
    #        b=150000+425000=575000, c=150000+913750=1063750
    assert got == {"a": 1361250, "b": 575000, "c": 1063750}


def test_pagerank_dangling_and_zero_iterations(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        graph as gr,
    )

    edges = spark.createDataFrame(
        [("a", "b")], "src string, dst string"
    )
    # 0 iterations: every node at the initial scale
    got0 = {r["node"]: r["rank"]
            for r in gr.pagerank_fixed(edges, iterations=0).collect()}
    assert got0 == {"a": 1_000_000, "b": 1_000_000}
    # b is dangling (no out-edges): its mass leaks, a keeps only base
    got1 = {r["node"]: r["rank"]
            for r in gr.pagerank_fixed(edges, iterations=1).collect()}
    assert got1 == {"a": 150_000, "b": 1_000_000}
    with pytest.raises(ValueError):
        gr.pagerank_fixed(edges, iterations=-1)


def test_pagerank_undirected_mass_conserved_and_deterministic(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        graph as gr,
    )

    pairs = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("c", "z")],
        "src string, dst string",
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = sorted(map(tuple, gr.pagerank_fixed(edges, iterations=3).collect()))
    b = sorted(map(tuple, gr.pagerank_fixed(edges, iterations=3).collect()))
    assert a == b                       # deterministic (integer ops)
    total = sum(r for _n, r in a)
    # undirected graph: no dangling nodes, so total mass stays within
    # integer-floor loss of n*scale (each div loses < 1 unit per edge)
    n = len(a)
    assert n * 1_000_000 - total < n * 200_000  # only floor + damping loss
    # y (degree 2) must outrank z (degree 1)
    ranks = dict(a)
    assert ranks["y"] > ranks["z"]


def test_pagerank_no_blind_broadcast_and_no_cache_leak(spark):
    """VERDICT r8 #1 / ADVICE r8: the rank/degree/contrib tables must
    not carry unconditional broadcast hints (they grow with the graph),
    and an invocation must leave no session CacheManager entries."""
    import io
    from contextlib import redirect_stdout

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        graph as gr,
    )

    pairs = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("c", "z")],
        "src string, dst string",
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = gr.pagerank_fixed(edges, iterations=2)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # threshold disabled => the measured-count gate plants no hint,
        # so no BroadcastExchange can appear anywhere in the plan
        assert "BroadcastExchange" not in buf.getvalue()
        # values are identical regardless of join strategy
        got = {r["node"]: r["rank"] for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got_hinted = {
        r["node"]: r["rank"]
        for r in gr.pagerank_fixed(edges, iterations=2).collect()
    }
    assert got == got_hinted
    # no DataFrame cache entries: inputs are localCheckpoint blocks
    # (RDD-scoped, ContextCleaner-freed), never session-lifetime caches
    assert spark.catalog.isCached is not None  # catalog reachable
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "pagerank_fixed leaked CacheManager entries"


def test_grouping_sets_from_partials_matches_native(spark):
    """r9 (VERDICT r8 #3): the partials spelling must be row-identical
    to native GROUPING SETS — including GROUPING() indicators and a
    genuine-NULL key value grouping under NULL with indicator 0."""
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), (None, "x", 4), ("b", None, 8),
         ("b", "y", 16), (None, None, 32)],
        "k1 string, k2 string, v long",
    )
    df.createOrReplaceTempView("gs_t")
    native = spark.sql(
        """
        SELECT k1, k2,
               CAST(GROUPING(k1) AS BIGINT) AS g1,
               CAST(GROUPING(k2) AS BIGINT) AS g2,
               COUNT(*) AS n, SUM(v) AS sv
        FROM gs_t
        GROUP BY GROUPING SETS ((k1, k2), (k2), ())
        """
    ).collect()
    ours = ag.grouping_sets_from_partials(
        df,
        keys=["k1", "k2"],
        sets=[["k1", "k2"], ["k2"], []],
        partials={"n": F.count(F.lit(1)), "sv": F.sum("v")},
        reaggs={"n": F.sum("n"), "sv": F.sum("sv")},
        grouping_cols={"k1": "g1", "k2": "g2"},
    ).collect()
    key = lambda r: (r["g1"], r["g2"], str(r["k1"]), str(r["k2"]))
    assert sorted(map(tuple, ours), key=lambda t: (t[2], t[3], str(t[0]), str(t[1]))) == \
           sorted(map(tuple, native), key=lambda t: (t[2], t[3], str(t[0]), str(t[1])))
    with pytest.raises(ValueError, match="non-key"):
        ag.grouping_sets_from_partials(
            df, keys=["k1"], sets=[["k2"]],
            partials={"n": F.count(F.lit(1))}, reaggs={"n": F.sum("n")},
        )
    with pytest.raises(ValueError, match="at least one"):
        ag.grouping_sets_from_partials(
            df, keys=["k1"], sets=[],
            partials={"n": F.count(F.lit(1))}, reaggs={"n": F.sum("n")},
        )


def test_partials_finest_coalesce_drops_tier_exchanges(spark):
    """r14 (guide §2.4): with ``finest_partitions=1`` the coarser tiers
    re-aggregate a single-partition finest frame, so the plan keeps
    exactly ONE Exchange (the shared finest shuffle) — and the rows are
    identical to the default spelling. Counted under AQE OFF (the bench
    session below 1 GiB) so static exchange reuse makes the counts
    deterministic; a DataFrame pins its physical plan at first use, so
    the frames are built after the toggle."""
    import io
    from contextlib import redirect_stdout

    def n_exchanges(frame) -> int:
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        return sum(
            1
            for line in buf.getvalue().splitlines()
            if line.strip().startswith("(")
            and line.split(")", 1)[-1].strip() == "Exchange"
        )

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), (None, "x", 4), ("b", None, 8),
         ("b", "y", 16), (None, None, 32)],
        "k1 string, k2 string, v long",
    )
    kwargs = dict(
        keys=["k1", "k2"],
        sets=[["k1"], ["k2"], []],
        partials={"n": F.count(F.lit(1)), "sv": F.sum("v")},
        reaggs={"n": F.sum("n"), "sv": F.sum("sv")},
        grouping_cols={"k1": "g1", "k2": "g2"},
    )
    key = lambda r: tuple(str(v) for v in r)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        base = ag.grouping_sets_from_partials(df, **kwargs)
        fast = ag.grouping_sets_from_partials(
            df, finest_partitions=1, **kwargs
        )
        assert n_exchanges(base) == 4  # finest + one per requested set
        assert n_exchanges(fast) == 1  # the shared finest shuffle only
        assert sorted(map(tuple, fast.collect()), key=key) == \
               sorted(map(tuple, base.collect()), key=key)

        # cube_from_partials threads the same knob
        cube_kwargs = dict(
            keys=["k1", "k2"],
            partials={"n": F.count(F.lit(1)), "sv": F.sum("v")},
            reaggs={"n": F.sum("n"), "sv": F.sum("sv")},
        )
        cbase = ag.cube_from_partials(df, **cube_kwargs)
        cfast = ag.cube_from_partials(
            df, finest_partitions=1, **cube_kwargs
        )
        assert n_exchanges(cfast) == 1
        assert sorted(map(tuple, cfast.collect()), key=key) == \
               sorted(map(tuple, cbase.collect()), key=key)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
