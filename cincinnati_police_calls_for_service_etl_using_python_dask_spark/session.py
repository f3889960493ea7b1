"""SparkSession factory.

The reference ran everything on Dask's single-process threaded scheduler
(no ``distributed.Client`` anywhere — ``app.py:32``, SURVEY.md §3.2).
Here the session is configured for real distributed execution semantics:
AQE for runtime re-planning (coalesce + skew-join splitting), Arrow for
any pandas interchange, UTC session time so event-time semantics are
stable across engines and executors.

``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
is just a default — at cluster scale AQE coalescing makes the initial
number a ceiling, not a hard choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One knob for local parallelism (default: this process's cores); the driver
# may run us under its own session, so every operator here is session-agnostic.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """Local-JVM heap default, derived from the HOST's available
    memory instead of a hard-coded figure: half of MemAvailable,
    clamped to [2g, 16g]. On the 128 GiB bench host this lands at the
    measured-good 16g (the 1g PySpark default caused bimodal query
    times under 32 threads — GC pressure); on a 8 GiB laptop it backs
    off to ~3g instead of promising a heap the host can't serve.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides; the setting is ignored
    entirely when the JVM already exists (driver-owned sessions)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) / (1 << 20)
                    break
            else:
                return "4g"
    except OSError:
        return "4g"
    return f"{max(2, min(16, int(avail_gb / 2)))}g"


def get_spark(
    app_name: str = "cfs_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale posture (SURVEY.md §7.2 M6): AQE enabled so partition counts
    and join strategies adapt at runtime; skew-join handling on for hot
    keys (the reference's ``event_number`` analog); broadcast threshold
    left at default (10 MB) — small dims (region/nation) broadcast
    automatically.

    ``adaptive=False`` is the small-input fast path: AQE's runtime
    re-planning costs a near-constant ~40-70 ms per query (stage
    materialization + re-optimization round-trips) while its benefit
    scales with shuffle bytes — measured at sub-GB inputs it is pure
    overhead. Callers that know total input size (bench.py) switch it
    off below ~1 GiB; cluster deployments leave it on.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Python data sources (sources/rest.py) declare pushFilters;
        # Spark refuses to plan them unless pushdown is enabled.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Local-mode JVM heap: the PySpark default is 1g, which on a
        # 32-thread local session puts every shuffle/broadcast/codegen
        # cache under constant GC pressure — measured as bimodal
        # query times (curation2_suite 1.06 s vs 1.54 s across
        # sessions) that settle at the fast mode with headroom. The
        # default scales with HOST MemAvailable (half, clamped 2g-16g
        # — see _default_driver_mem) so small hosts aren't promised a
        # heap they can't serve. A cluster deployment sets executor/
        # driver memory explicitly; this default only matters when WE
        # launch the JVM (ignored if the driver's session exists).
        .config("spark.driver.memory", _default_driver_mem())
    )
    if master is not None:
        builder = builder.config("spark.master", master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.config("spark.master", f"local[{_DEFAULT_CPUS}]")
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config("spark.sql.shuffle.partitions", str(_DEFAULT_CPUS))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def data_scaled_conf(total_input_bytes: int, cpus: int) -> dict[str, str]:
    """Size shuffle and input-split knobs to the DATA, not the machine.

    - shuffle partitions: ~64 MB of input per post-shuffle partition
      (SURVEY.md §7.2 M6), floored at 4 so tiny SFs don't serialize,
      capped at 2×cores locally; at cluster scale the same formula
      yields tens of thousands and AQE coalesces downward.
    - input splits: Spark's default split formula floors at
      openCost=4 MB, so a sub-100 MB table scans with a handful of map
      tasks while the rest of the cores idle. Target ~2 splits per
      core, floored at 512 KB (below that per-task overhead dominates)
      and capped at the 128 MB default — at 100 TB the clamp makes
      this a no-op and row-group economics rule.
    """
    shuffle_parts = max(4, min(2 * cpus, total_input_bytes // (64 << 20)))
    max_split = max(512 << 10, min(128 << 20, total_input_bytes // (2 * cpus)))
    return {
        "spark.sql.shuffle.partitions": str(int(shuffle_parts)),
        "spark.sql.files.maxPartitionBytes": str(max_split),
        "spark.sql.files.openCostInBytes": str(min(4 << 20, max_split // 4)),
    }


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
