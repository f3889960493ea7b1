#!/usr/bin/env python
"""Quantify Spark's fixed per-query floor vs the mid-band SQL queries
(VERDICT r4 #5): under the EXACT bench session (data-scaled conf, AQE
off below 1 GiB), measure

- the empty-job floor (noop write of a 1-row range: scheduler + stage
  launch + codegen constant),
- the scan floor (noop write of a limit-0 parquet scan),
- best-of-3 wall for the five named sub-second queries, alongside
  their DuckDB oracle times,

and print a markdown table with the floor-adjusted ratio. Appended to
PLANS.md by hand (the table is a measurement, not a plan property).

Run: python tools/floor_profile.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "groupby_multi_agg",
    "exists_late_shipments",
    "sql_tpch_suite",
    "events_enrich",
    "sql_pricing_summary_q1",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries import (
        oracle_sqls,
        spark_queries,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
        _DEFAULT_CPUS,
        data_scaled_conf,
        get_spark,
    )

    cpus = _DEFAULT_CPUS

    total_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    spark = get_spark(
        app_name="floor_profile",
        master=f"local[{cpus}]",
        adaptive=total_bytes >= (1 << 30),
        extra_conf=data_scaled_conf(total_bytes, cpus),
    )

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def best_of(fn, n=3) -> float:
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    # warmup: JVM + codegen + parquet footers
    force(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000))

    floor_empty = best_of(lambda: force(spark.range(1)), 5)
    scan = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    floor_scan = best_of(lambda: force(scan.limit(0)), 5)

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = spark_queries(), oracle_sqls()
    print(f"empty-job floor: {floor_empty:.3f} s   scan floor: {floor_scan:.3f} s")
    print()
    print("| query | spark s | duckdb s | ratio | floor-adj ratio |")
    print("|---|---|---|---|---|")
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        force(df)  # warm the plan
        t_spark = best_of(lambda: force(df))
        t_duck = best_of(lambda: con.execute(os_[name]).fetchall())
        adj = (t_spark - floor_empty) / t_duck if t_duck > 0 else float("nan")
        print(
            f"| {name} | {t_spark:.3f} | {t_duck:.3f} | "
            f"{t_spark / t_duck:.1f}x | {adj:.1f}x |"
        )


if __name__ == "__main__":
    main()
