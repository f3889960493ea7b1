"""Batch surfaces of the table format: the per-commit change feed
(``TxTable.table_changes_native``) against the ``txtable_stream``
change feed, and ``file:`` URI paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
    TxTableStreamSource,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
    TxTable,
)

from .test_txstream import _drain


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(TxTableStreamSource)


def test_table_changes_native_parity_and_fallback(spark, tmp_path):
    """TxTable.table_changes_native — the JVM-only per-commit CDC feed.
    Multiset-identical (values + dtypes) to the txtable_stream change
    feed over a blind-append + change-file history; no Python source
    node in its plan; a named ValueError for every window it cannot
    serve; empty typed frame for an all-silent window."""
    p = str(tmp_path / "cdc_nat")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 20).coalesce(1), change_data_feed=True
    )                                                                  # v0
    t.delete(F.col("k") < 3, strategy="mor")                          # v1
    t.update(F.col("k") == 5, {"v": F.lit(999).cast("long")})         # v2
    t.optimize(target_file_rows=1000)                                 # v3
    t.append(_mk(spark, 100, 103).coalesce(1))                        # v4
    t.merge(
        _mk(spark, 101, 105).withColumn(
            "op", F.when(F.col("k") == 101, "D").otherwise("U")
        ),
        "k",
    )                                                                 # v5

    nat = t.table_changes_native(0)
    opts = {"readChangeFeed": "true", "key": "k", "startingVersion": "1"}
    stream = spark.readStream.format("txtable_stream").options(**opts).load(p)
    cols = sorted(nat.columns)
    assert cols == sorted(stream.columns)
    streamed = [
        tuple(r[c] for c in cols)
        for r in _drain(spark, p, str(tmp_path / "cdc_nat_ck"), **opts)
    ]
    assert sorted(map(tuple, nat.select(*cols).collect())) == sorted(streamed)
    assert dict(nat.dtypes) == dict(stream.dtypes)
    # no Python anywhere: the whole feed is parquet scans + unions
    plan = nat._jdf.queryExecution().executedPlan().toString()
    assert "PythonDataSource" not in plan and "EvalPython" not in plan
    # windowing: (4, 5] sees only the MERGE commit's events
    tail = t.table_changes_native(4)
    assert {r["_commit_version"] for r in tail.collect()} == {5}
    # all-silent window (OPTIMIZE only) → typed empty frame
    silent = t.table_changes_native(2, 3)
    assert silent.count() == 0 and sorted(silent.columns) == cols

    # a non-CDF table's DML has no change files to scan
    p2 = str(tmp_path / "cdc_nat2")
    t2 = TxTable.create(spark, p2, _mk(spark, 0, 10).coalesce(1))
    t2.delete(F.col("k") < 2)
    with pytest.raises(ValueError, match="DML without change files"):
        t2.table_changes_native(0)
    # ... but its blind-append-only window is still served
    t2.append(_mk(spark, 50, 52).coalesce(1))
    win = t2.table_changes_native(1)
    assert {(r["k"], r["_change_type"]) for r in win.collect()} == {
        (50, "insert"), (51, "insert"),
    }
    # column-mapped tables are never served
    t2.rename_column("v", "val")
    with pytest.raises(ValueError, match="column-mapped"):
        t2.table_changes_native(1)

    # a schema change inside the window is never served
    p4 = str(tmp_path / "cdc_nat4")
    t4 = TxTable.create(spark, p4, _mk(spark, 0, 5).coalesce(1))
    t4.append(
        _mk(spark, 5, 7).withColumn("w", F.lit(1).cast("long")),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="changes the schema"):
        t4.table_changes_native(0)

    # a window reaching below an expire_log cut raises instead of
    # silently skipping the expired commits, and names the feeds that
    # serve everything else
    p3 = str(tmp_path / "cdc_nat3")
    t3 = TxTable.create(spark, p3, _mk(spark, 0, 5).coalesce(1))
    for i in range(12):  # past the checkpoint interval
        t3.append(_mk(spark, 10 + i, 11 + i).coalesce(1))
    t3.expire_log()
    cut = t3._versions()[0]
    assert cut > 1
    # (cut-2, ...] needs the expired commit cut-1 -> raises;
    # (cut-1, ...] is fully inside surviving history -> served
    with pytest.raises(ValueError, match="expire_log cut.*change_feed"):
        t3.table_changes_native(cut - 2)
    assert t3.table_changes_native(cut - 1).count() > 0


def test_file_uri_paths_accepted(spark, tmp_path):
    """Every binding normalizes file: URIs — the spelling SQL-facing
    layers hand to sources — to plain paths (the native API's form).
    The SQL surface is a temp view over the native read."""
    p = str(tmp_path / "uri")
    TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    uri = "file:" + p
    got = TxTable(spark, uri).read()
    assert sorted(r["k"] for r in got.collect()) == list(range(10))
    got.createOrReplaceTempView("uri_tx")
    assert spark.sql("SELECT count(*) AS n FROM uri_tx").collect()[0]["n"] == 10
    cdc = _drain(
        spark, uri, str(tmp_path / "uri_ck"), readChangeFeed="true", key="k"
    )
    assert len(cdc) == 10  # v0 inserts
