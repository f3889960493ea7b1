"""Structured Streaming variants of the reference's streaming-shaped
semantics (SURVEY.md §2.9).

The reference simulated a stream with a daily full re-fetch + re-dedup
(app.py:50, 95-134, 463-480). The real-streaming mapping:

| reference behavior                   | here                                |
|--------------------------------------|-------------------------------------|
| daily re-run over full history       | ``Trigger.AvailableNow`` micro-batch|
| monthly event-time chunks            | tumbling ``F.window`` aggregation   |
| re-fetch + dedup of late/dup records | ``dropDuplicatesWithinWatermark``   |
| full-refresh sink                    | ``outputMode(complete)`` / overwrite|

State-store discipline: ``dropDuplicates`` without a watermark grows
state forever — every dedup here requires one (SURVEY.md §7.3 #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def batch_equivalent_daily_counts(
    spark: SparkSession, events: DataFrame, scratch_dir: str
) -> DataFrame:
    """Run the full streaming path over a static snapshot and return the
    drained result as a batch DataFrame — the ``Trigger.AvailableNow``
    scheduled-batch analog (SURVEY.md §2.9 row 1), made ORACLE-CHECKABLE:
    complete-mode output of a tumbling 1-day event-time count equals the
    batch ``date_trunc('day')`` aggregate, bit for bit.

    ``ts`` stays TIMESTAMP_NTZ end-to-end so window alignment (epoch
    days) is immune to the session timezone. Complete mode (not append)
    so no window is held back by the watermark at end-of-stream.
    """
    import uuid

    src = f"{scratch_dir}/src"
    events.write.mode("overwrite").parquet(src)
    schema = events.schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream.groupBy(F.window("ts", "1 day").alias("win")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    name = f"stream_daily_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{scratch_dir}/ckpt_{name}")
        .start()
    )
    q.awaitTermination()
    # date-string output: engines render midnight TIMESTAMPs differently
    # ('2024-01-07' vs '2024-01-07 00:00:00'); DATE→string is identical.
    return spark.table(name).select(
        F.col("win.start").cast("date").cast("string").alias("win_start"),
        "n_events",
    )


def batch_equivalent_watermark_dedup(
    spark: SparkSession,
    events: DataFrame,
    scratch_dir: str,
    key: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "36500 days",
) -> DataFrame:
    """Streaming dedup parity, oracle-checkable: the snapshot is
    written TWICE into the stream source — every record arrives as its
    own duplicate, the re-fetch shape of the reference's daily full
    re-ingest (app.py:50, 463-480) — then drained through
    ``dropDuplicatesWithinWatermark`` with Trigger.AvailableNow. The
    result must equal the DISTINCT snapshot exactly.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``)
    is the state-store-disciplined spelling: a key's state is evicted
    once the watermark passes its event time, so state is bounded by
    the dedup horizon instead of the stream's lifetime. The horizon
    here is set far past the fixture's time span so the parity check
    is exact; production callers pass their real late-data bound.
    """
    import uuid

    src = f"{scratch_dir}/src"
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    # Watermarks require TIMESTAMP (LTZ); the snapshot carries NTZ for
    # cross-engine parity. The cast interprets in session timezone —
    # harmless here because the output projection is tz-free and the
    # dedup horizon dwarfs any DST wobble.
    deduped = (
        stream.withColumn("__wm_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("__wm_ts", watermark)
        .dropDuplicatesWithinWatermark([key])
        .drop("__wm_ts")
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{scratch_dir}/ckpt_{name}")
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("event_id", "event_type", "value")
