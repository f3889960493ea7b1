"""File sources/sinks (SURVEY.md §2.1 S3, S9).

The reference's file path is a typed CSV scan with 15 MB blocks
(``dd.read_csv(blocksize=15e6, dtype={...})``, ``app.py:53-87``) and a
pickle dump of raw JSON (``app.py:197-199``). Spark-first equivalents:
schema'd CSV/Parquet readers where split sizing is engine-managed
(``spark.sql.files.maxPartitionBytes``) and the durable format is
Parquet — columnar, splittable, predicate-pushdown-friendly — never
pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_SCHEMAS

# events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized parquet
# reader rejects; read nanos as raw INT64 and convert below.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# Epoch-nanos BIGINT -> TIMESTAMP_NTZ at microsecond precision.
# `div 1000` truncates ns -> µs exactly like DuckDB's read-time cast, so
# oracle comparisons line up; decimal arithmetic keeps µs exact (double
# would lose sub-µs precision at 2024-epoch magnitudes). NTZ (not LTZ)
# so results are independent of the session timezone.
_NANOS_TO_NTZ = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, "
    "CAST(CAST({col} div 1000 AS DECIMAL(20, 0)) / 1000000 AS DECIMAL(20, 6)))"
)


def oracle_sf_dir() -> str:
    """SF directory the ORACLE contract reads (the driver runs oracle
    SQL at sf0.01; tests/conftest.py honours the same env var for local
    parity runs). Replay oracles — zero-arg callables embedding
    DATA-DEPENDENT literals (replayed PCA model, k-means centroids,
    BPE merges) — must derive their parquet paths from here, never a
    string literal, so running parity at another SF replays the model
    from the SAME data the rest of the oracle SQL reads (ADVICE r10)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan. Catalyst pushes filters into row-group pruning and
    prunes columns at the footer level — the manual projection/predicate
    work the reference does by hand (app.py:133-134, 316, 491-516) is
    free here."""
    return spark.read.parquet(path)


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """Typed CSV scan — the Spark mapping of ``dd.read_csv(dtype={...})``
    (app.py:53-87). Explicit schema skips the inference pass (one full
    extra scan at 100 TB) and pins types for Catalyst."""
    return spark.read.schema(schema).option("header", header).csv(path)


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-generated table (TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS): read as raw INT64
    (``nanosAsLong``) and converted to TIMESTAMP_NTZ at µs precision,
    matching DuckDB's read-time ns→µs truncation so oracle diffs are
    exact."""
    if table not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown testdata table {table!r}")
    path = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        spark.conf.set(_NANOS_CONF, "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr(_NANOS_TO_NTZ.format(col="ts")))
        return df
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Parquet sink. ``partition_by`` mirrors the reference's event-time
    windowing (app.py:101-134) as physical layout — partitioning output
    by e.g. (year, month) gives downstream partition pruning at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


