"""Temporal expression builders (SURVEY.md §2.8 F1–F3, F8–F9).

Everything here is native Catalyst expressions — the reference computed
these with per-element ``apply`` lambdas wrapped in ``map_partitions``
(``app.py:320-346``), which on Spark would be the row-at-a-time Python
UDF slow path. Native expressions stay inside whole-stage codegen.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import CFS_TIME_FORMAT


def parse_timestamps(
    df: DataFrame,
    columns: tuple[str, ...] | None = None,
    fmt: str = CFS_TIME_FORMAT,
) -> DataFrame:
    """F1 — parse string timestamp columns in place.

    Mirrors app.py:275-282: the reference selects columns by the
    name-substring rule ``'time' in c.lower()`` and parses with
    ``%Y-%m-%dT%H:%M:%S.%f``. Delta (documented, SURVEY.md §7.3):
    malformed input yields NULL where pandas raises —
    ``try_to_timestamp``, because Spark 4 defaults to ANSI mode where
    plain ``to_timestamp`` throws.
    """
    if columns is None:
        columns = tuple(c for c in df.columns if "time" in c.lower())
    return df.withColumns(
        {c: F.try_to_timestamp(F.col(c), F.lit(fmt)) for c in columns}
    )


def minutes_between(end: Column | str, start: Column | str, scale: int = 2) -> Column:
    """F2 — timestamp difference in minutes, rounded HALF_UP.

    The reference derives four of these (create→closed, create→dispatch,
    create→arrival, dispatch→arrival; app.py:290-312) via
    ``.dt.total_seconds() / 60``.

    Implementation detail that matters for determinism:
    ``timestamp_diff(MICROSECOND, ...)`` works on both TIMESTAMP and
    TIMESTAMP_NTZ and keeps the ``.%f`` sub-second precision; the
    rounding is done in INTEGER arithmetic (``(|µs| + half) div step``)
    rather than ``round(µs / 6e7, s)`` — a double division can land
    within 1 ulp of a rounding tie (any diff that's an odd multiple of
    0.3 s does) where engines' double-rounding diverges. Integer
    arithmetic is exact in every engine. Requires scale ≤ 7.
    """
    end_c = F.col(end) if isinstance(end, str) else end
    start_c = F.col(start) if isinstance(start, str) else start
    micros = F.timestamp_diff("MICROSECOND", start_c, end_c)
    step = 60_000_000 // (10**scale)
    half = step // 2
    magnitude = (F.abs(micros) + F.lit(half)).cast("long") / F.lit(step)
    rounded = F.floor(magnitude).cast("long")
    signed = F.when(micros < 0, -rounded).otherwise(rounded)
    return (signed / F.lit(10**scale)).cast("double")


def date_parts(col: Column | str) -> dict[str, Column]:
    """F3 — year/month/day/hour extraction (app.py:320-346) as native
    expressions instead of the reference's four apply-lambda passes."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "year": F.year(c),
        "month": F.month(c),
        "day": F.dayofmonth(c),
        "hour": F.hour(c),
    }


def with_date_parts(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """Attach year/month/day/hour columns derived from ``ts_col``."""
    parts = date_parts(ts_col)
    return df.withColumns({f"{prefix}{name}": expr for name, expr in parts.items()})


def month_windows(
    start: dt.date, end: dt.date
) -> list[tuple[dt.date, dt.date]]:
    """F9 — enumerate non-overlapping month-granularity [start, end]
    day-closed windows, reproducing the reference's datepairs
    construction (app.py:95-134): month boundaries, first/last pinned to
    the requested range, +1-day shift so consecutive windows don't
    overlap.

    Runs at plan-build time on the driver (as in the reference). The
    REST source (sources/rest.py) packs the windows into one contiguous
    run per core, each run one source partition, so fetches run in
    parallel on executors — fixing the reference's sequential-HTTP
    bottleneck (SURVEY.md §3.1).
    """
    if end < start:
        raise ValueError("end before start")
    windows: list[tuple[dt.date, dt.date]] = []
    cur = start
    while True:
        # last day of cur's month
        nxt_month = (cur.replace(day=1) + dt.timedelta(days=32)).replace(day=1)
        month_end = nxt_month - dt.timedelta(days=1)
        win_end = min(month_end, end)
        windows.append((cur, win_end))
        if win_end >= end:
            break
        cur = win_end + dt.timedelta(days=1)  # +1-day shift (app.py:110-131)
    return windows


def fill_month_gaps(
    months_df: DataFrame,
    month_col: str,
    fill: "dict[str, Column]",
) -> DataFrame:
    """Densify a per-month aggregate: emit one row for EVERY calendar
    month between the observed min and max, taking ``fill``'s value
    expressions for months with no row (gap months). The month spine is
    generated from the AGGREGATED frame (sequence + explode over a
    1-row bounds aggregate), so the base table is scanned exactly once
    no matter how sparse the series — the resample/gap-fill primitive
    every time-series ETL needs and the reference's fixed monthly
    windows (app.py:101-134) assumed implicitly.
    """
    out_cols = [c for c in months_df.columns if c != month_col]
    bounds = months_df.agg(
        F.min(month_col).alias("__lo"), F.max(month_col).alias("__hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 month"))
        ).alias(month_col)
    )
    filled = spine.join(months_df, month_col, "left")
    return filled.select(
        F.col(month_col),
        *[F.coalesce(F.col(c), fill[c]).alias(c) if c in fill else F.col(c)
          for c in out_cols],
    )


def interpolate_daily(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key daily resample with LINEAR interpolation — the
    time-series densification step past :func:`fill_month_gaps`'s
    constant fill: aggregate to a daily mean, emit every calendar day
    between each key's first and last observation, and fill gap days
    by interpolating between the surrounding observed days.

    Output: (key, day DATE, value_micro BIGINT, src STRING) where
    ``value_micro`` is the value in 1e-6 fixed-point and src ∈
    {'observed','interp'}. All arithmetic is INTEGER (daily mean =
    floor(Σfloor(v·1e6)/n); interpolation = prev + floor(Δ·step/gap)
    with Δ possibly negative — floor, not truncation, on BOTH engines)
    so the series re-derives bit-identically in DuckDB. Edge days
    before the first / after the last observation don't exist by
    construction (the spine spans observed bounds).

    Distributed shape: one groupBy(key, day) pass over the events
    (map-combined); the spine explodes from the per-key bounds
    aggregate (≤ span-days rows per key, never a corpus-sized
    cross join); prev/next propagate via two frame-bounded window
    passes over the SAME (key)-partitioning — one exchange for the
    daily aggregate, one for the window (subset-satisfied), nothing
    touches raw events twice.
    """
    day = F.col("__day")
    daily = (
        df.select(
            F.col(key),
            F.to_date(F.col(ts_col)).alias("__day"),
            F.floor(F.col(value_col) * F.lit(1_000_000)).cast("long").alias("__vm"),
        )
        .groupBy(key, "__day")
        .agg(
            F.floor(F.sum("__vm") / F.count(F.lit(1))).cast("long").alias("__dv")
        )
    )
    bounds = daily.groupBy(key).agg(
        F.min("__day").alias("__lo"), F.max("__day").alias("__hi")
    )
    spine = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 day"))
        ).alias("__day"),
    )
    joined = spine.join(daily, [key, "__day"], "left")

    w_prev = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("__dv", ignorenulls=True).over(w_prev)
    next_v = F.first("__dv", ignorenulls=True).over(w_next)
    prev_d = F.last(
        F.when(F.col("__dv").isNotNull(), day), ignorenulls=True
    ).over(w_prev)
    next_d = F.first(
        F.when(F.col("__dv").isNotNull(), day), ignorenulls=True
    ).over(w_next)

    gap = F.datediff(next_d, prev_d)
    step = F.datediff(day, prev_d)
    interp = prev_v + F.floor((next_v - prev_v) * step / gap).cast("long")
    return joined.select(
        F.col(key),
        # DATE → 'yyyy-MM-dd' string: DuckDB hands DATE to pandas as
        # datetime64 (midnight), Spark as datetime.date — same value,
        # different render; the string form hashes identically.
        day.cast("string").alias("day"),
        F.when(F.col("__dv").isNotNull(), F.col("__dv"))
        .otherwise(interp)
        .cast("long")
        .alias("value_micro"),
        F.when(F.col("__dv").isNotNull(), F.lit("observed"))
        .otherwise(F.lit("interp"))
        .alias("src"),
    )
