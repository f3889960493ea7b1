#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries to files.

Used by the r14 optimization round to capture before/after physical
plans (plans/r14/<query>_{before,after}.txt) under the EXACT bench
session (data-scaled conf, AQE off below 1 GiB — bench.py's session).

Run: python tools/plan_dump.py <suffix> <query>[,<query>...] [sf_dir]
e.g. python tools/plan_dump.py before sql_shipping_priority_q3
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("PLANS_ROUND", "r15")
)


def main() -> None:
    suffix = sys.argv[1]
    names = [s for s in sys.argv[2].split(",") if s]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries import (
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
        app_name="plan_dump",
        master=f"local[{cpus}]",
        adaptive=total_bytes >= (1 << 30),
        extra_conf=data_scaled_conf(total_bytes, cpus),
    )
    queries = spark_queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir}, {suffix}\n")
            f.write(buf.getvalue())
        print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
