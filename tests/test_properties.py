"""Property-based spot checks (SURVEY.md §5.2 #4, hypothesis).

Each property batches all generated values into ONE Spark job per
example, so the suite stays fast despite JVM round-trip costs.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.hashing import (
    hash56,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.aggregates import (
    group_agg_bitmap_fused,
    group_agg_single_distinct,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.dedup import (
    latest_per_key,
)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Strings whose UTF-8 is md5-stable everywhere; exclude surrogates.
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=24
)


def _py_hash56(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[16:30], 16)


@_SETTINGS
@given(st.lists(_text, min_size=1, max_size=30, unique=True))
def test_hash56_matches_python_and_duckdb(spark, duck, strings):
    # The cross-engine foundation: Spark's conv(substring(md5)) chain,
    # DuckDB's substr-hex cast, and Python's hashlib must agree on
    # arbitrary unicode — every MinHash/SimHash/LSH oracle rests on it.
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got_spark = {
        r["s"]: r["h"] for r in df.select("s", hash56("s").alias("h")).collect()
    }
    for s in strings:
        want = _py_hash56(s)
        assert got_spark[s] == want, f"spark vs python on {s!r}"
        got_duck = duck.execute(
            "SELECT CAST(('0x' || substr(md5(?), 17, 14)) AS BIGINT)", [s]
        ).fetchone()[0]
        assert got_duck == want, f"duckdb vs python on {s!r}"


_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),          # group key
        st.sampled_from(["x", "y", "z", None]),     # distinct col
        st.one_of(st.none(), st.integers(-5, 5).map(float)),  # metric
    ),
    min_size=1,
    max_size=25,
)


@_SETTINGS
@given(_rows)
def test_single_distinct_fast_path_property(spark, rows):
    # For ANY small frame, the no-Expand plan equals the built-in plan.
    df = spark.createDataFrame(rows, "k string, d string, m double")
    fast = group_agg_single_distinct(
        df, keys=["k"], distinct_col="d", avg=["m"], count_alias="n_rows"
    )
    ref = df.groupBy("k").agg(
        F.countDistinct("d").alias("nunique_d"),
        F.round(F.avg("m"), 4).alias("avg_m"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    key = lambda r: (r["k"] is not None, r["k"])
    assert sorted(fast.collect(), key=key) == sorted(ref.collect(), key=key)


_int_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),                    # group key
        st.one_of(st.none(), st.integers(-130, 130)),         # integral id
        st.one_of(st.none(), st.integers(-5, 5).map(float)),  # metric
    ),
    min_size=1,
    max_size=25,
)


@_SETTINGS
@given(_int_rows)
def test_integral_distinct_bitmap_property(spark, rows):
    # r11 (VERDICT r10 #4): for ANY small frame with an integral id —
    # including negatives straddling bucket boundaries and NULLs —
    # the fused one-scan bitmap spelling equals the built-in plan.
    df = spark.createDataFrame(rows, "k string, d long, m double")
    ref = df.groupBy("k").agg(
        F.countDistinct("d").alias("nunique_d"),
        F.round(F.avg("m"), 4).alias("avg_m"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    key = lambda r: (r["k"] is not None, r["k"])
    out = group_agg_bitmap_fused(
        df, keys=["k"], distinct_col="d", avg=["m"], count_alias="n_rows"
    )
    assert sorted(out.collect(), key=key) == sorted(ref.collect(), key=key)


_dedup_rows = st.lists(
    st.tuples(
        st.sampled_from(["e1", "e2", "e3"]),
        st.integers(0, 9),   # order value
        st.integers(0, 99),  # tie-breaker (may collide across rows)
    ),
    min_size=1,
    max_size=25,
)


@_SETTINGS
@given(_dedup_rows)
def test_latest_per_key_invariants(spark, rows):
    # Exactly one survivor per key, and it is the lexicographic max of
    # (order, tie) among that key's rows.
    df = spark.createDataFrame(rows, "k string, o long, t long")
    out = latest_per_key(df, keys=["k"], order_by="o", tie_breakers=["t"]).collect()
    keys = [r["k"] for r in out]
    assert len(keys) == len(set(keys))
    want = {}
    for k, o, t in rows:
        want[k] = max(want.get(k, (-1, -1)), (o, t))
    assert {r["k"]: (r["o"], r["t"]) for r in out} == want


# ---------------------------------------------------------------------------
# as_of_join vs pandas merge_asof: an independent reference
# implementation for both directions and the tolerance rule. Right
# frames are generated with UNIQUE (key, ts) — the operator's
# documented determinism contract.
# ---------------------------------------------------------------------------

_asof_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1_000)), min_size=1, max_size=25
)


@given(left_rows=_asof_rows, right_rows=_asof_rows,
       direction=st.sampled_from(["backward", "forward"]),
       tol=st.sampled_from([None, 0.5, 2.0]))
@_SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows, direction, tol):
    import datetime as dt

    import pandas as pd

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.asof import (
        as_of_join,
    )

    t0 = dt.datetime(2020, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # unique (key, ts) on BOTH sides: pandas merge_asof resolves
    # duplicate left rows positionally, Spark's window by sort order —
    # dedup keeps the comparison on the documented contract
    left_rows = list({(k, m): None for k, m in left_rows})
    right_rows = list({(k, m): None for k, m in right_rows})
    left = spark.createDataFrame(
        [(k, ts(m), i) for i, (k, m) in enumerate(left_rows)],
        "k long, ts timestamp_ntz, lid long",
    )
    right = spark.createDataFrame(
        [(k, ts(m), 100 + i) for i, (k, m) in enumerate(right_rows)],
        "k long, ts timestamp_ntz, rid long",
    )
    got = {
        r["lid"]: r["asof_rid"]
        for r in as_of_join(
            left, right, on=["k"], payload=["rid"],
            direction=direction, tolerance_minutes=tol,
        ).collect()
    }

    lp = pd.DataFrame(
        {"k": [k for k, _ in left_rows],
         "ts": [ts(m) for _, m in left_rows],
         "lid": range(len(left_rows))}
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        {"k": [k for k, _ in right_rows],
         "ts": [ts(m) for _, m in right_rows],
         "rid": [100 + i for i in range(len(right_rows))]}
    ).sort_values("ts", kind="stable")
    kwargs = {"tolerance": pd.Timedelta(minutes=tol)} if tol is not None else {}
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction, **kwargs
    )
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=12,
    )
)
def test_int8_quantization_properties(spark, vecs):
    """Invariants of symmetric SQ8 as int8_rerank_topk quantizes, for
    arbitrary float32 vectors: each code is floor(x·127/max|x| + 0.5)
    exactly, in [-127,127], sign-preserving; the max-|x| element hits
    ±127; a zero vector → zeros."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out: dict[int, dict[int, int]] = {}
    for r in sim._int8_exploded(df, "vec_id", "embedding", "q").collect():
        out.setdefault(r["vec_id"], {})[r["__i"]] = r["q"]
    import numpy as np

    for i, v in enumerate(vecs):
        v32 = np.array(v, dtype=np.float32).astype(np.float64)
        amax = float(np.max(np.abs(v32)))
        q = [out[i][j] for j in range(len(v))]
        assert all(-127 <= x <= 127 for x in q)
        if amax == 0.0:
            assert all(x == 0 for x in q)
            continue
        for x, qx in zip(v32, q):
            expect = int(np.floor(x * 127.0 / amax + 0.5))
            assert qx == expect
            if x > 0:
                assert qx >= 0
            if x < 0:
                assert qx <= 0
        assert 127 in q or -127 in q  # the max-magnitude element saturates


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.sampled_from(["a", "b", "c", "dd"]),
        ),
        min_size=0, max_size=30, unique_by=lambda t: t[0],
    )
)
def test_interleave_properties(spark, rows):
    """interleave_by_source invariants: output is a permutation of the
    input ids; keys are unique; per-source rn is 1..n_s dense; and the
    key formula holds exactly."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        sampling as sp,
    )

    df = spark.createDataFrame(rows or [], "doc_id long, source string")
    out = sp.interleave_by_source(df).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)
    keys = [r["interleave_key"] for r in out]
    assert len(set(keys)) == len(keys)
    srcs = sorted({s for _, s in rows})
    sidx = {s: i for i, s in enumerate(srcs)}
    per_src = {}
    for r in out:
        per_src.setdefault(r["source"], []).append(r["rn_in_source"])
        assert r["interleave_key"] == (r["rn_in_source"] - 1) * len(srcs) + sidx[r["source"]]
    for s, rns in per_src.items():
        assert sorted(rns) == list(range(1, len(rns) + 1))
