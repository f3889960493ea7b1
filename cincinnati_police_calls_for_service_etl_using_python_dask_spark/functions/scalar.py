"""Scalar expression builders (SURVEY.md §2.8 F4–F7).

All native expressions; the reference used row-wise ``apply(axis=1)``
lambdas (app.py:472,476) — the slowest possible path on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def composite_key(*cols: Column | str, sep: str = ", ") -> Column:
    """F5 — string composite key, mirroring the reference's
    ``event_number + ', ' + str(ind)`` row-wise lambda (app.py:472,476)
    as native ``concat_ws`` (casts non-strings implicitly).

    Note: the engine's dedup (operators/dedup.py) makes this key
    unnecessary — it exists for parity and for callers that genuinely
    need a single-string key (e.g. hash-partitioned sinks)."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(sep, *[p.cast("string") for p in parts])


def to_numeric(col: Column | str, dtype: str = "double") -> Column:
    """F6 — ``pd.to_numeric(errors='coerce')`` (app.py:284-286):
    NULL on failure. ``try_cast``, not ``cast``: Spark 4 defaults to
    ANSI mode where a malformed cast throws."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)


def dec2(col: Column | str) -> Column:
    """Cast a 2-decimal money-like double to DECIMAL(18,2).

    Cross-engine determinism rule (SURVEY.md §7.3 #1): double sums are
    accumulation-order-dependent, so a sum that must hash-match another
    engine is computed over exact decimals, rounded, then cast back to
    double. Decimal arithmetic is exact in both Spark and DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def money_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent exact sum of a 2-decimal column → DOUBLE."""
    return F.round(F.sum(dec2(col)), scale).cast("double")


def revenue_micros(price_col: str, discount_col: str) -> Column:
    """Per-row price·(1−discount) in exact integer micro-dollars
    (cents × basis points): the associative building block of an exact
    Σ price·(1−discount), usable at any aggregation level (partial sums
    re-sum exactly; :func:`finalize_revenue_micros` converts the total,
    :data:`DUCKDB_DISCOUNTED_REVENUE_SUM` is the DuckDB mirror).

    Spelled as ``cast(x + 0.5 as long)`` rather than ``F.round``:
    Spark's Round on DoubleType allocates a BigDecimal PER ROW, and
    this expression sits in per-row hot paths (measured r5 at sf0.1:
    0.96 → 0.69 s on groupby_multi_agg, value-identical). The floor
    spelling equals HALF_UP exactly for non-negative inputs below
    2^52 — money columns — which parity tests pin cross-engine."""
    return (F.col(price_col) * 100 + F.lit(0.5)).cast("long") * (
        F.lit(10_000) - (F.col(discount_col) * 10_000 + F.lit(0.5)).cast("long")
    )


def finalize_revenue_micros(summed: Column) -> Column:
    """Convert a summed :func:`revenue_micros` accumulator to rounded
    dollars (decimal division only once per output group)."""
    return (
        F.round(summed.cast("decimal(38,0)") / F.lit(1_000_000), 2)
        .cast("double")
    )


DUCKDB_DISCOUNTED_REVENUE_SUM = (
    "CAST(ROUND(CAST(SUM(CAST(round({price} * 100) AS BIGINT)"
    " * (10000 - CAST(round({discount} * 10000) AS BIGINT))) AS DECIMAL(38,6))"
    " / 1000000, 2) AS DOUBLE)"
)


def null_percent_exprs(columns: list[str], scale: int = 1) -> list[Column]:
    """F7/A6 helper — one expression per column computing its null
    percentage; composed by operators/aggregates.py:null_profile into a
    SINGLE pass over the data. The reference ran one full graph
    execution per column per statistic (~40 passes, app.py:223-250)."""
    return [
        F.round(F.avg(F.col(c).isNull().cast("int")) * 100, scale).alias(c)
        for c in columns
    ]


def empty_frame(spark, schema):
    """Typed EMPTY DataFrame as a pure-JVM relation (r15).

    ``spark.createDataFrame([], schema)`` plans as ``Scan ExistingRDD``
    — a Python-RDD scan whose every downstream ACTION pays ~0.25-0.4 s
    of Python-worker round-trips on a local[32] session, even with
    zero rows. ``range(0)`` + typed NULL casts yields the same-typed
    empty JVM relation: ~0.05 s per action, and statically
    empty-foldable by Catalyst. Used by the snapshot/CDC read paths
    whose pruning can legitimately eliminate every file (point lookup
    misses, out-of-range scans) — at serving scale those are hot
    paths, not edges.

    A NULL-cast column is nullable, so when the target schema carries
    a non-nullable TOP-LEVEL field (``.to(schema)`` refuses that
    direction) this falls back to the classic path to keep the
    returned schema EXACTLY what createDataFrame([], schema) produced
    — every current caller's schema is parquet/StructField-default
    (all nullable), so the fallback is a schema-fidelity guard, not a
    live path. Nested nullability flags live in the field dataType and
    survive the cast either way.
    """
    from pyspark.sql import functions as F

    if not all(f.nullable for f in schema.fields):
        return spark.createDataFrame([], schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
