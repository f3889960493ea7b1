#!/usr/bin/env python
"""Job-timeline probe (r15, VERDICT r14 #1): run a registry query's
noop action once warm, then dump every Spark job's [submission,
completion] span from the local UI's REST API — the evidence trail
for whether independent subtrees (e.g. curation3_suite's pagerank
iteration broadcasts vs the LM broadcast build) OVERLAP inside the
one action or serialize.

Run: python tools/job_timeline.py <query> [sf_dir]
Prints one line per job (relative ms since the action started) plus
the wall of the timed action.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

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
    conf = dict(data_scaled_conf(total_bytes, cpus))
    conf["spark.ui.enabled"] = "true"  # the REST timeline IS the probe
    spark = get_spark(
        app_name="cfs_timeline",
        master=f"local[{cpus}]",
        adaptive=total_bytes >= (1 << 30),
        extra_conf=conf,
    )
    fn = spark_queries()[name]

    def force() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    force()  # cold
    force()  # warm
    tracker = spark.sparkContext.statusTracker()
    first_new = (max(tracker.getJobIdsForGroup() or [-1]) or 0) + 1
    spark.sparkContext.setJobDescription(f"timeline:{name}")
    wall = force()
    spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1]
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/api/v1/applications/{app_id}/jobs?status=succeeded"
    ) as r:
        jobs = json.load(r)
    from datetime import datetime

    def ts(s: str) -> float:
        return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    mine = [
        j
        for j in jobs
        if j["jobId"] >= first_new
        and j.get("description", "").startswith("timeline:")
    ]
    if not mine:
        mine = [j for j in jobs if j["jobId"] >= first_new]
    t_base = min(ts(j["submissionTime"]) for j in mine)
    print(f"# {name}: timed action wall {wall*1000:.0f} ms, {len(mine)} jobs")
    for j in sorted(mine, key=lambda j: ts(j["submissionTime"])):
        a = (ts(j["submissionTime"]) - t_base) * 1000
        b = (ts(j["completionTime"]) - t_base) * 1000
        print(
            f"job {j['jobId']:>4}  [{a:7.0f} .. {b:7.0f}] ms "
            f"({b-a:6.0f})  stages={len(j['stageIds'])}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
