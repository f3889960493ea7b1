"""Transactional-table lifecycle query (sources/txtable.py) under the
driver's full cross-engine oracle.

The callable runs a complete lakehouse lifecycle at construction —
CREATE (with per-file event_id blooms) from the first 60% of events,
APPEND the next 20%, MERGE a change set (values doubled, every 7th
key deleted) over the 70-90% band, UPDATE the signup slice (+1000),
DELETE a predicate slice copy-on-write, OPTIMIZE with Z-order
clustering (row set unchanged),
then DELETE a sparse slice merge-on-read (deletion-vector sidecar, no
file rewrite) — and returns the final snapshot read, whose plan
therefore carries the DV broadcast anti-join mask (audited in
PLANS.md). Sibling queries gate the streaming source pipeline, the
CDC change feed, and the batch format API (writer + pushdown reader).
The DuckDB oracle replays the same algebra in pure SQL over the raw
events table, so every commit/replay/rewrite path in the format is
value-hash-gated, not just unit-tested. (Construction writes to a
scratch directory; the registry caches the resulting DataFrame per
session, so repeated executions measure the snapshot READ path.)
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.scalar import empty_frame
from .queries import register
from .sources.files import read_testdata
from .sources.txtable import TxTable

_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM events),
base AS (
  SELECT event_id, event_type, value FROM events, n
  WHERE event_id < CAST(FLOOR(0.8 * n.n) AS BIGINT)
),
chg AS (
  SELECT event_id, event_type, value * 2 AS value,
         CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events, n
  WHERE event_id >= CAST(FLOOR(0.7 * n.n) AS BIGINT)
    AND event_id < CAST(FLOOR(0.9 * n.n) AS BIGINT)
),
merged AS (
  SELECT b.event_id, b.event_type, b.value
  FROM base b ANTI JOIN chg c USING (event_id)
  UNION ALL
  SELECT event_id, event_type, value FROM chg WHERE op <> 'D'
),
updated AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value + 1000.0
              ELSE value END AS value
  FROM merged
)
SELECT event_id, event_type, value FROM updated
WHERE NOT COALESCE(event_type = 'click' AND value < 5.0, FALSE)
  AND NOT COALESCE(event_id % 13 = 0 AND event_type = 'view', FALSE)
"""


@register("txtable_merge_events", _ORACLE)
def q_txtable_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    c1, c2, m1, m2 = (
        int(0.6 * n),
        int(0.8 * n),
        int(0.7 * n),
        int(0.9 * n),
    )
    scratch = tempfile.mkdtemp(prefix="txtable_")
    # the registry caches the returned DataFrame for the session, so
    # the files must outlive this call — reclaim them at exit instead
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    path = os.path.join(scratch, "events_table")
    t = TxTable.create(
        spark,
        path,
        events.filter(F.col("event_id") < c1),
        stats_columns=["event_id"],
        # per-file equality blooms ride every rewrite below, so the
        # bloom build/carry paths run under the driver gate too
        bloom_columns=["event_id"],
    )
    t.append(events.filter((F.col("event_id") >= c1) & (F.col("event_id") < c2)))
    src = events.filter(
        (F.col("event_id") >= m1) & (F.col("event_id") < m2)
    ).select(
        "event_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
        F.when(F.col("event_id") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    t.merge(src, "event_id")
    # sparse UPDATE via auto strategy (signup ≈ 20% of rows -> COW at
    # default threshold; the WHEN/OTHERWISE rewrite path runs gated)
    t.update(
        F.col("event_type") == "signup",
        {"value": F.col("value") + 1000.0},
        strategy="auto",
    )
    t.delete((F.col("event_type") == "click") & (F.col("value") < 5.0))
    # Z-order compaction: row set unchanged (oracle unaffected), so the
    # Morton bucketing/interleave path runs under the gate — placed
    # BEFORE the MOR delete so the final read still carries a DV
    t.optimize(target_file_rows=25_000, zorder_by=["event_id", "value"])
    # sparse slice via merge-on-read: the final read exercises the
    # deletion-vector mask (broadcast anti-join on file/position)
    t.delete(
        (F.col("event_id") % 13 == 0) & (F.col("event_type") == "view"),
        strategy="mor",
    )
    return t.read()


_CLONE_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM events),
base AS (
  SELECT event_id, event_type, value FROM events, n
  WHERE event_id < CAST(FLOOR(0.8 * n.n) AS BIGINT)
),
after_mor AS (
  SELECT * FROM base
  WHERE NOT COALESCE(event_id % 11 = 0 AND event_type = 'click', FALSE)
),
after_del AS (
  SELECT * FROM after_mor WHERE NOT COALESCE(value < 2.0, FALSE)
),
appended AS (
  SELECT event_id, event_type, value * 3 AS value FROM events, n
  WHERE event_id >= CAST(FLOOR(0.8 * n.n) AS BIGINT)
    AND event_id < CAST(FLOOR(0.9 * n.n) AS BIGINT)
)
SELECT event_id, event_type, value FROM after_del
UNION ALL
SELECT event_id, event_type, value FROM appended
"""


@register("txtable_clone_events", _CLONE_ORACLE)
def q_txtable_clone_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-CLONE lifecycle (r9) under the full oracle: a source
    table (two commits + a sparse MOR delete, so the clone inherits an
    ABSOLUTE deletion-vector reference) is cloned without copying a
    byte; the SOURCE then deletes every 'view' row — which must NOT
    appear in the result, pinning isolation — while the CLONE diverges
    with its own COW delete and an appended value*3 slice. The
    returned read is the CLONE's final snapshot: external parquet +
    external DV sidecar + local files all in one plan, value-hash-
    gated against the same algebra in pure SQL."""
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    c1, c2, c3 = int(0.6 * n), int(0.8 * n), int(0.9 * n)
    scratch = tempfile.mkdtemp(prefix="txclone_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    src = TxTable.create(
        spark,
        os.path.join(scratch, "source_table"),
        events.filter(F.col("event_id") < c1),
        stats_columns=["event_id"],
    )
    src.append(
        events.filter((F.col("event_id") >= c1) & (F.col("event_id") < c2))
    )
    src.delete(
        (F.col("event_id") % 11 == 0) & (F.col("event_type") == "click"),
        strategy="mor",
    )
    clone = src.clone(os.path.join(scratch, "clone_table"))
    # source-side divergence AFTER the clone: invisible to the result
    src.delete(F.col("event_type") == "view")
    # clone-side divergence: local COW rewrite over shared parquet,
    # then a local append
    clone.delete(F.col("value") < 2.0)
    clone.append(
        events.filter(
            (F.col("event_id") >= c2) & (F.col("event_id") < c3)
        ).withColumn("value", F.col("value") * 3)
    )
    return clone.read()


_STREAM_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS sum_ids
FROM events
"""


@register("txstream_events_pipeline", _STREAM_ORACLE + "GROUP BY event_type")
def q_txstream_events_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table→table incremental pipeline under the full oracle: events
    land in table A over two append commits, the txtable_stream SOURCE
    (sources/txstream.py: versions-as-offsets, one Arrow-read partition
    per added file) drains them through a projection into table B via
    the format's exactly-once epoch sink, and the result is B's
    snapshot aggregated per event_type. The oracle is the same
    aggregate over the raw events table — so source offsets, partition
    planning, executor-side pyarrow reads, AND the sink's txn
    idempotence are all value-hash-gated. (Drain happens at
    construction; registered bench-unbenchable like the streaming
    family.)"""
    from .sources.txstream import TxTableStreamSource

    spark.dataSource.register(TxTableStreamSource)
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    scratch = tempfile.mkdtemp(prefix="txstream_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    a = TxTable.create(
        spark,
        os.path.join(scratch, "a"),
        events.filter(F.col("event_id") % 2 == 0),
    )
    a.append(events.filter(F.col("event_id") % 2 != 0))
    b = TxTable.create(
        spark,
        os.path.join(scratch, "b"),
        empty_frame(spark, T.StructType.fromDDL("event_id long, event_type string")),
    )
    stream = spark.readStream.format("txtable_stream").load(a.path)
    b.write_stream(
        stream.select("event_id", "event_type"),
        os.path.join(scratch, "ckpt"),
        app_id="gate_pipeline",
    )
    return b.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
    )


_CDC_ORACLE = """
SELECT event_id, event_type, value,
       'delete' AS _change_type
FROM events
WHERE event_id % 97 = 0
  AND event_id < CAST(FLOOR(0.5 * (SELECT COUNT(*) FROM events)) AS BIGINT)
"""


@register("txtable_change_feed_events", _CDC_ORACLE)
def q_txtable_change_feed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC read under the full oracle: a table built from the
    first half of events takes a sparse merge-on-read DELETE, and the
    change feed between the two versions must be EXACTLY the deleted
    rows (the DV re-point is a file-identity change; surviving rows in
    re-pointed files cancel in the feed's full-outer struct compare).
    The oracle recomputes the deleted slice in pure SQL."""
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    scratch = tempfile.mkdtemp(prefix="txcdc_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = TxTable.create(
        spark,
        os.path.join(scratch, "t"),
        events.filter(F.col("event_id") < int(0.5 * n)),
        stats_columns=["event_id"],
    )
    v0 = t.latest_version()
    t.delete(F.col("event_id") % 97 == 0, strategy="mor")
    return t.change_feed("event_id", v0)


_BATCH_CDC_ORACLE = """
SELECT event_id, event_type, value,
       'delete' AS _change_type,
       CAST(1 AS BIGINT) AS _commit_version
FROM events
WHERE event_id % 97 = 0
  AND event_id < CAST(FLOOR(0.5 * (SELECT COUNT(*) FROM events)) AS BIGINT)
"""


@register("txbatch_change_feed_events", _BATCH_CDC_ORACLE)
def q_txbatch_change_feed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit batch CDC (Delta's ``table_changes``) under the full
    value-hash oracle: a change-data-feed table takes a merge-on-read
    DELETE, and ``TxTable.table_changes_native`` replays that commit
    as row-level delete events tagged ``_commit_version = 1`` — the
    per-commit spelling of the endpoint-diff ``change_feed`` gate,
    read from the writer's change files as plain parquet scans."""
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    scratch = tempfile.mkdtemp(prefix="txbcdc_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = TxTable.create(
        spark,
        os.path.join(scratch, "t"),
        events.filter(F.col("event_id") < int(0.5 * n)),
        stats_columns=["event_id"],
        change_data_feed=True,
    )
    t.delete(F.col("event_id") % 97 == 0, strategy="mor")
    return t.table_changes_native(0)


_BATCH_ORACLE = """
SELECT event_id, event_type, value
FROM events
WHERE event_id >= 1000 AND event_id < 2000
  AND NOT COALESCE(event_id % 11 = 0, FALSE)
"""


@register("txbatch_read_events", _BATCH_ORACLE)
def q_txbatch_read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format's batch write + pruned read under the full oracle:
    events land in a zone-mapped table over four files, take a sparse
    merge-on-read DELETE, and come back through the native snapshot
    range read (``TxTable.read_pruned``) — zone-map file prune
    driver-side, ``Scan parquet`` with PushedFilters, deletion vectors
    masked JVM-side (one broadcast anti-join). For BIGINT ids,
    ``[1000, 1999]`` is exactly the ``>= 1000 AND < 2000`` slice; the
    oracle hash pins that."""
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    scratch = tempfile.mkdtemp(prefix="txbatch_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = TxTable.create(
        spark,
        os.path.join(scratch, "t"),
        events.repartition(4),
        stats_columns=["event_id"],
    )
    t.delete(F.col("event_id") % 11 == 0, strategy="mor")
    return t.read_pruned("event_id", 1000, 1999)


_APPLY_ORACLE = """
SELECT event_id, event_type,
       CASE WHEN event_type = 'signup' THEN value + 1000.0
            ELSE value END AS value
FROM events
WHERE NOT (event_id % 13 = 0)
"""


@register("txstream_apply_changes", _APPLY_ORACLE)
def q_txstream_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-APPLY materialization under the full oracle (r8): events
    land in table A over two commits, take an UPDATE and a DELETE,
    and ``apply_changes`` (sources/txstream.py) drains A's streaming
    change feed into table B — last-writer-wins window reduce +
    file-pruned MERGE per micro-batch, the public Delta foreachBatch
    pattern. The gate: B's final snapshot must equal the DML script
    replayed in pure SQL, so the change-feed partition taxonomy, the
    reduce, and the MERGE all sit under one value hash. (Drain at
    construction; bench-unbenchable like the streaming family.)"""
    from .sources.txstream import TxTableStreamSource, apply_changes

    spark.dataSource.register(TxTableStreamSource)
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    scratch = tempfile.mkdtemp(prefix="txapply_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    a = TxTable.create(
        spark,
        os.path.join(scratch, "a"),
        events.filter(F.col("event_id") % 2 == 0),
        stats_columns=["event_id"],
    )
    a.append(events.filter(F.col("event_id") % 2 != 0))
    a.update(
        F.col("event_type") == "signup", {"value": F.col("value") + 1000.0}
    )
    a.delete(F.col("event_id") % 13 == 0, strategy="mor")
    b = TxTable.create(
        spark,
        os.path.join(scratch, "b"),
        empty_frame(spark, T.StructType.fromDDL("event_id long, event_type string, value double")),
    )
    apply_changes(
        spark, a.path, b, "event_id", os.path.join(scratch, "ckpt")
    )
    return b.read()


# ---------------------------------------------------------------------------
# Column mapping lifecycle (r8) — metadata-only RENAME/DROP under the
# full cross-engine oracle. The callable CREATEs a table from an
# events slice, RENAMEs value→amount (one log entry, zero data files
# touched — files keep the stable physical name), APPENDs more rows
# THROUGH the mapping (new files also store physical 'value'),
# UPDATEs and DELETEs with predicates spelled in the NEW logical name
# (zone-map consultation crosses the mapping), DROPs event_type
# (physical name retired), and returns the final two-column snapshot.
# The oracle replays the same algebra in pure SQL with the rename as
# a plain alias — so the logical/physical boundary (read select,
# write rename, stats keys, predicate translation) is value-hash
# gated end-to-end, not just unit-tested.
# ---------------------------------------------------------------------------

_CM_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM events),
base AS (
  SELECT event_id, event_type, value AS amount FROM events, n
  WHERE event_id < CAST(FLOOR(0.5 * n.n) AS BIGINT)
),
upd AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN amount * 3.0
              ELSE amount END AS amount
  FROM base
)
SELECT event_id, amount, event_id // 1000 AS ebucket FROM upd
WHERE NOT COALESCE(event_type = 'error' AND amount < 1.0, FALSE)
"""


@register("txtable_column_mapping_events", _CM_ORACLE)
def q_txtable_column_mapping_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    c1, c2 = int(0.3 * n), int(0.5 * n)
    scratch = tempfile.mkdtemp(prefix="txtable_cm_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    path = os.path.join(scratch, "events_cm")
    t = TxTable.create(
        spark,
        path,
        events.filter(F.col("event_id") < c1),
        stats_columns=["event_id", "value"],
        # GENERATED COLUMN under the same gate (r8): computed at
        # create, computed again for the append that omits it,
        # recomputed by UPDATE — the oracle mirrors the definition
        generated_columns={"ebucket": "event_id div 1000"},
    )
    t.rename_column("value", "amount")  # metadata-only: zero files
    t.append(
        events.filter(
            (F.col("event_id") >= c1) & (F.col("event_id") < c2)
        ).withColumnRenamed("value", "amount")
    )
    t.update(
        F.col("event_type") == "purchase",
        {"amount": F.col("amount") * 3.0},
    )
    t.delete((F.col("event_type") == "error") & (F.col("amount") < 1.0))
    t.drop_column("event_type")  # metadata-only: physical name retired
    return t.read()


_IVM_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM events),
base AS (
  SELECT event_id, event_type, value FROM events, n
  WHERE event_id < CAST(FLOOR(0.8 * n.n) AS BIGINT)
),
chg AS (
  SELECT event_id, event_type, value * 2 AS value,
         CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events, n
  WHERE event_id >= CAST(FLOOR(0.7 * n.n) AS BIGINT)
    AND event_id < CAST(FLOOR(0.9 * n.n) AS BIGINT)
),
merged AS (
  SELECT b.event_id, b.event_type, b.value
  FROM base b ANTI JOIN chg c USING (event_id)
  UNION ALL
  SELECT event_id, event_type, value FROM chg WHERE op <> 'D'
),
updated AS (
  SELECT event_id, event_type,
         CASE WHEN event_type = 'signup' THEN value + 1000.0
              ELSE value END AS value
  FROM merged
),
afterdel AS (
  SELECT event_id, event_type, value FROM updated
  WHERE NOT COALESCE(event_type = 'click' AND value < 5.0, FALSE)
),
pmax AS (
  SELECT MAX(value) AS mv FROM afterdel WHERE event_type = 'purchase'
),
final AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM afterdel, pmax
  WHERE NOT COALESCE(event_type = 'purchase' AND value = pmax.mv, FALSE)
)
SELECT event_type,
       COUNT(*)                                   AS n_rows,
       CAST(SUM(vc) AS BIGINT)                    AS sum_vc,
       ROUND(SUM(vc) / (100.0 * COUNT(vc)), 4)    AS avg_value,
       COUNT(DISTINCT vc)                         AS nunique_vc,
       CAST(MIN(vc) AS BIGINT)                    AS min_vc,
       CAST(MAX(vc) AS BIGINT)                    AS max_vc
FROM final
GROUP BY event_type
"""


@register("ivm_maintained_view_events", _IVM_ORACLE)
def q_ivm_maintained_view_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally maintained aggregate view (operators/ivm.py,
    r10): ONE full aggregate at version 0, then every subsequent
    commit's changes fold into the state through the CDC feed —
    refresh cost O(changed rows), the materialized-view shape a
    100 TB fact table needs. The DML history reuses the merge-suite
    algebra (append, MERGE with deletes, UPDATE); the value measure
    maintains in exact integer cents, the distinct-count column
    maintains through the two-level value state, and the oracle
    recomputes the FINAL view directly in SQL — so the maintained
    state being value-hash-equal to a from-scratch recompute IS the
    gate."""
    from .operators import ivm

    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = events.count()
    c1, c2, m1, m2 = (
        int(0.6 * n),
        int(0.8 * n),
        int(0.7 * n),
        int(0.9 * n),
    )
    scratch = tempfile.mkdtemp(prefix="txtable_ivm_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = TxTable.create(
        spark,
        os.path.join(scratch, "events_ivm"),
        events.filter(F.col("event_id") < c1),
        stats_columns=["event_id"],
    )

    def vc(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "vc",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )

    keys = ["event_type"]
    # persist the shared INPUTS (base snapshot + feed below): the
    # additive state and the value-level state are two folds over the
    # same frames — cache the scan, keep both folds live per action so
    # warm bench runs still measure the aggregates, not a cached
    # result. Scratch-table lineage is session-unique, so no
    # plan-matching cache leak into other queries.
    base_snap = vc(t.read(version=0)).persist()
    state = ivm.state_of(base_snap, keys, sums=["vc"])
    vstate = ivm.distinct_state_of(base_snap, keys, "vc")

    t.append(
        events.filter((F.col("event_id") >= c1) & (F.col("event_id") < c2))
    )
    src = events.filter(
        (F.col("event_id") >= m1) & (F.col("event_id") < m2)
    ).select(
        "event_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
        F.when(F.col("event_id") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    t.merge(src, "event_id")
    t.update(
        F.col("event_type") == "signup",
        {"value": F.col("value") + 1000.0},
    )
    t.delete((F.col("event_type") == "click") & (F.col("value") < 5.0))
    # r11 (VERDICT r10 #7): DELETE the purchase group's CURRENT MAX —
    # the case naive additive IVM gets wrong (the runner-up must
    # surface). The threshold is derived from the live table, so the
    # oracle derives the identical scalar from its replayed state; the
    # comparison is double==double over identically-computed values
    # (parquet doubles, ×2 is exponent-exact, both engines IEEE 754).
    pmax = (
        t.read()
        .filter(F.col("event_type") == "purchase")
        .agg(F.max("value"))
        .collect()[0][0]
    )
    if pmax is not None:
        t.delete(
            (F.col("event_type") == "purchase")
            & (F.col("value") == F.lit(pmax))
        )

    feed = vc(t.change_feed("event_id", 0, t.latest_version())).persist()
    state = ivm.merge_states(
        state, ivm.delta_state(feed, keys, sums=["vc"]), keys
    )
    vstate = ivm.merge_states(
        vstate, ivm.distinct_delta_state(feed, keys, "vc"), [*keys, "vc"]
    )
    # present straight from the state (finalize_state's SUM/AVG NULL
    # semantics inlined, plus the cents->dollars scaling); the
    # distinct column joins null-safely so a NULL group key would
    # still pair with its value-level state
    view = state.select(
        *keys,
        F.col("__w").alias("n_rows"),
        F.when(F.col("__c_vc") > 0, F.col("__s_vc")).alias("sum_vc"),
        F.when(
            F.col("__c_vc") > 0,
            F.round(
                F.col("__s_vc") / (F.lit(100.0) * F.col("__c_vc")), 4
            ),
        ).alias("avg_value"),
    )
    nuniq = ivm.finalize_distinct(vstate, keys, "vc")
    # r11: exact MIN/MAX maintained from the SAME value-level state —
    # the extremum-delete above is the stress case (its weight flips
    # negative in the delta, merge drops the value, the runner-up
    # becomes the live max). The from-scratch oracle recomputing
    # MIN/MAX directly is the whole gate.
    # rename the key: minmax shares vstate's lineage with nuniq, so an
    # attribute-reference condition would be self-join-ambiguous
    minmax = ivm.finalize_minmax(vstate, keys, "vc").withColumnRenamed(
        "event_type", "__mm_event_type"
    )
    cond = view["event_type"].eqNullSafe(nuniq["event_type"])
    mcond = view["event_type"].eqNullSafe(F.col("__mm_event_type"))
    # broadcast: both branches are |view keys|-sized aggregates (5
    # event types here; group-bounded at any SF) — the static plan
    # must not fall back to SortMergeJoin (PLANS.md merge_suite row)
    nuniq = F.broadcast(nuniq)
    minmax = F.broadcast(minmax)
    return view.join(nuniq, cond).join(minmax, mcond).select(
        view["event_type"],
        "n_rows",
        "sum_vc",
        "avg_value",
        "nunique_vc",
        "min_vc",
        "max_vc",
    )


_IVM_JOIN_ORACLE = """
WITH fact_all AS (
  SELECT l_orderkey * 10 + l_linenumber                    AS k,
         l_orderkey                                        AS okey,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
fact AS (  -- init (okey%16<>0), append (okey%16=0), then delete k%33=0
  SELECT * FROM fact_all WHERE NOT k % 33 = 0
),
dim AS (   -- update moves okey%11=0 to 'MOVED'; delete okey%13=0
  SELECT o_orderkey AS okey,
         CASE WHEN o_orderkey % 11 = 0 THEN 'MOVED'
              ELSE o_orderpriority END AS prio
  FROM orders
  WHERE NOT o_orderkey % 13 = 0
)
SELECT prio,
       COUNT(*)                 AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM fact JOIN dim USING (okey)
GROUP BY prio
"""


@register("ivm_join_view_orders_lineitem", _IVM_JOIN_ORACLE)
def q_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained aggregate view over a JOIN (r11,
    operators/ivm.py:join_delta): GROUP BY priority over
    lineitem ⋈ orders stays current by folding BOTH tables' CDC
    feeds — Δ(A⋈B) = ΔA ⋈ B_new ∪ A_old ⋈ ΔB with multiset weights —
    never re-joining from scratch after the initial snapshot. The
    DML window exercises every join-IVM hazard: fact appends and
    deletes, a dim UPDATE that moves rows between groups (its join
    rows transfer weight), and a dim DELETE that kills every matching
    join row. The oracle recomputes the final view directly from the
    replayed DML in SQL."""
    from .operators import ivm

    li = read_testdata(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.col("l_orderkey").alias("okey"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    od = read_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
    )
    scratch = tempfile.mkdtemp(prefix="txtable_ivmj_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    # Feed spelling (r11, measured): change_data_feed=True + the
    # per-commit feed (table_changes_native). The endpoint-diff
    # change_feed must re-scan every file a COW delete rewrote (a 3%
    # key-spread delete rewrites ALL files → the diff walks old+new of
    # the whole table, 0.62 s of the fold's ~1.0 s here); the
    # writer-recorded change files read O(changed rows) (0.28 s).
    # Per-commit insert+delete pairs telescope to the same endpoint
    # delta — weights cancel in the fold (parity-tested equal states)
    # — so join_delta accepts either feed.
    fact = TxTable.create(
        spark,
        os.path.join(scratch, "fact"),
        li.filter(F.col("okey") % 16 != 0),
        change_data_feed=True,
    )
    dim = TxTable.create(
        spark, os.path.join(scratch, "dim"), od, change_data_feed=True
    )

    keys, sums = ["prio"], ["cents"]
    # fact@v0 feeds BOTH the init join and join_delta's A_old probe —
    # persist the scan (scratch-table lineage: no plan-cache leak)
    fact_v0 = fact.read(version=0).persist()
    # the ONE table-sized join the view ever pays (version-0
    # snapshots). localCheckpoint: in a deployment this state is
    # STORED (refresh_join_view keeps it in a TxTable) — re-running
    # the init join per action would time the thing IVM exists to
    # avoid, so warm bench runs measure the RECURRING cost: Δ(A⋈B)
    # build + fold + merge.
    state = ivm.state_of(
        fact_v0.join(dim.read(version=0), "okey"), keys, sums
    ).localCheckpoint(eager=True)

    # DML on BOTH sources inside one refresh window
    fact.append(li.filter(F.col("okey") % 16 == 0))
    fact.delete(F.col("k") % 33 == 0)
    dim.update(F.col("okey") % 11 == 0, {"prio": F.lit("MOVED")})
    dim.delete(F.col("okey") % 13 == 0)

    # both tables are CDF with blind-append/change-file-only
    # histories, so the fold reads its two feeds as plain JVM parquet
    # scans, O(changed rows)
    dj = ivm.join_delta(
        fact_v0,
        fact.table_changes_native(0).drop("_commit_version"),
        dim.read(),
        dim.table_changes_native(0).drop("_commit_version"),
        "okey",
    )
    state = ivm.merge_states(
        state, ivm.delta_state(dj, keys, sums, weight_col="__ivm_w"), keys
    )
    return state.select(
        "prio",
        F.col("__w").alias("n_rows"),
        F.when(F.col("__c_cents") > 0, F.col("__s_cents")).alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Maintained inverted-index statistics (r12): per-term DOCUMENT
# FREQUENCY as an incrementally maintained view — the IVM doctrine
# applied to text/search. A search engine's index stats (df, N,
# avgdl) go stale as the corpus churns; recomputing them is a full
# tokenize of 100 TB. Here the (term, doc) incidence lives as a
# VALUE-LEVEL IVM state (operators/ivm.py): the init pays the one
# full tokenize, and every refresh folds only the CHANGED documents'
# tokens through the CDC feed — an update's pre-image tokens retract
# (-1) and its post-image tokens assert (+1), so moved/edited/deleted
# documents keep df exact at O(changed docs × tokens/doc). The view
# is finalize_distinct over live incidence rows. Oracle: the DML
# script replayed in SQL + df recomputed from scratch with the SAME
# tokenizer (lower/trim/split \s+, '' dropped — operators/text.py
# tokens()), so maintained-equals-recomputed IS the gate.
# ---------------------------------------------------------------------------

_IVM_DF_ORACLE = """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
allr AS (SELECT doc_id, text FROM documents),
upd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 2 THEN text || ' zqdrift zqdrift'
              ELSE text END AS text
  FROM allr
),
fin AS (SELECT doc_id, text FROM upd WHERE doc_id % 9 <> 4),
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM fin
)
SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM tok WHERE term <> '' GROUP BY term
"""


_IVM_DF_STATES: dict[tuple[int, str], DataFrame] = {}


def _ivm_df_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per session+corpus) the maintained (term, doc)
    incidence state after the DML script: the shared index state
    behind ivm_text_df_view AND bm25_maintained_topk — in a
    deployment this is ONE stored table serving every stats consumer.
    Returned MERGED state rows carry __w = within-doc term frequency
    (the value-level multiplicity), which is exactly tf_td — so the
    same state answers df (live distinct docs per term), dl (Σ tf per
    doc), N, avgdl, and tf: a complete maintained BM25 index."""
    from .operators import ivm
    from .operators import text as txt

    key = (id(spark), sf_dir)
    cached = _IVM_DF_STATES.get(key)
    if cached is not None:
        return cached

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    c1 = int(0.7 * n)
    scratch = tempfile.mkdtemp(prefix="txtable_ivmdf_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = TxTable.create(
        spark,
        os.path.join(scratch, "docs_df"),
        docs.filter(F.col("doc_id") < c1),
        stats_columns=["doc_id"],
    )

    def expand(df: DataFrame) -> DataFrame:
        # tokenize + explode, PRESERVING the feed's _change_type so
        # delta_state derives each token row's ±1 from its image;
        # same expansion on snapshot and feed (the IVM invariant) —
        # within-doc term multiplicity is carried, not deduped: init
        # and retraction count it identically, so a live row's __w is
        # the doc's CURRENT term frequency and a dead doc's rows
        # cancel to zero exactly
        extra = ["_change_type"] if "_change_type" in df.columns else []
        return df.select(
            "doc_id", *extra, F.explode(txt.tokens("text")).alias("term")
        ).filter(F.col("term") != "")

    keys = ["term", "doc_id"]
    # init: the ONE full tokenize the stats ever pay
    state = ivm.state_of(expand(t.read(version=0)), keys)

    # churn: late corpus arrives, docs get edited, docs get dropped
    t.append(docs.filter(F.col("doc_id") >= c1))
    t.update(
        F.col("doc_id") % 5 == 2,
        {"text": F.concat(F.col("text"), F.lit(" zqdrift zqdrift"))},
    )
    t.delete(F.col("doc_id") % 9 == 4)

    feed = expand(t.change_feed("doc_id", 0, t.latest_version()))
    merged = ivm.merge_states(state, ivm.delta_state(feed, keys), keys)
    # localCheckpoint: deployed, this state is STORED (refresh_view's
    # TxTable loop); checkpointing the MERGED state makes warm bench
    # runs measure the SERVING cost of each consumer (distinct
    # finalize / BM25 scoring) — the index answers queries without
    # re-running the fold, exactly like the stored table would.
    merged = merged.localCheckpoint(eager=True)
    _IVM_DF_STATES[key] = merged
    return merged


@register("ivm_text_df_view", _IVM_DF_ORACLE)
def q_ivm_text_df_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ivm

    state = _ivm_df_state(spark, sf_dir)
    return ivm.finalize_distinct(state, ["term"], "doc_id", alias="df")


# ---------------------------------------------------------------------------
# BM25 served ENTIRELY from the maintained index state (r12): the
# value-level (term, doc) state above carries everything the ranking
# function needs — tf_td is the live multiplicity __w, dl_d = Σ_t tf,
# df_t = live distinct docs per term, N/avgdl one aggregate over the
# state — so query-time ranking NEVER touches the corpus (no
# tokenize, no text scan): the search-engine serving shape, with
# freshness guaranteed by the CDC fold instead of a nightly reindex.
# Same cross-engine exactness doctrine as text.bm25_topk: index
# stats collect driver-side, idf embeds as math.log literals
# (CPython libm == DuckDB ln), per-term contributions fold in
# literal order. Docs without a single token are not in the index
# and are unscorable — N counts indexed docs (index semantics, and
# the oracle's tok CTE defines the same corpus).
# ---------------------------------------------------------------------------


def _bm25_maintained_oracle() -> str:
    from .queries_curation2 import _BM25_B, _BM25_K, _BM25_K1, _BM25_TERMS

    k1, b = _BM25_K1, _BM25_B
    k1p1 = f"{(k1 + 1.0)!r}::DOUBLE"
    one_minus_b = f"{(1.0 - b)!r}::DOUBLE"
    k1s, bs = f"{k1!r}::DOUBLE", f"{b!r}::DOUBLE"
    dfs = ",\n         ".join(
        f"(SELECT COUNT(DISTINCT doc_id) FROM tok2 WHERE term = '{t}') AS df{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    tfs = ",\n            ".join(
        f"SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    score = "0.0"
    for i in range(len(_BM25_TERMS)):
        score += (
            f"\n           + ln(1 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
            f" * (t.tf{i} * {k1p1})"
            f" / (t.tf{i} + {k1s} * ({one_minus_b} + {bs} * t.dl / s.avgdl))"
        )
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    upd AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 2 THEN text || ' zqdrift zqdrift'
                  ELSE text END AS text
      FROM documents
    ),
    fin AS (SELECT doc_id, text FROM upd WHERE doc_id % 9 <> 4),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM fin
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY doc_id),
    s AS (
      SELECT (SELECT COUNT(*) FROM dl) AS n,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl,
         {dfs}
    ),
    tfx AS (
      SELECT doc_id,
            {tfs}
      FROM tok2 GROUP BY doc_id
    ),
    t AS (
      SELECT d.doc_id, d.dl,
             {", ".join(f"COALESCE(x.tf{i}, 0) AS tf{i}" for i in range(len(_BM25_TERMS)))}
      FROM dl d LEFT JOIN tfx x USING (doc_id)
    )
    SELECT t.doc_id, {score} AS score
    FROM t CROSS JOIN s
    ORDER BY score DESC, t.doc_id
    LIMIT {_BM25_K}
    """


def _bm25_serve_from_state(
    state: DataFrame, terms: "list[str]", k: int, k1: float, b: float
) -> DataFrame:
    """Shared BM25-from-maintained-state serving tail: score and
    rank from the live (term, doc, __w) rows ONLY — no corpus
    access. Split out of ``bm25_maintained_topk`` (r14) so the
    maintained hybrid arm serves through the identical expressions
    (bit-exactness doctrine: driver-side idf literals, fixed-order
    per-term fold)."""
    import math

    live = state.filter(F.col("__w") > 0)

    # index-sized stats pass (the state, never the corpus): one
    # aggregate for N / total tokens / per-term df — collected
    # driver-side so idf embeds as literals (bit-exactness doctrine)
    stats = live.agg(
        F.countDistinct("doc_id").alias("n"),
        F.sum("__w").alias("sdl"),
        *[
            F.countDistinct(
                F.when(F.col("term") == t, F.col("doc_id"))
            ).alias(f"df{i}")
            for i, t in enumerate(terms)
        ],
    ).collect()[0]
    n = stats["n"]
    avgdl = stats["sdl"] / n
    idf = [
        math.log(1.0 + (n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5))
        for i in range(len(terms))
    ]

    dl = live.groupBy("doc_id").agg(F.sum("__w").alias("_dl"))
    tf_rows = (
        live.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.col("term") == t, F.col("__w")).otherwise(0)
                ).alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    joined = dl.join(tf_rows, "doc_id", "left").na.fill(
        {f"_tf{i}": 0 for i in range(len(terms))}
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}")
        score = score + F.lit(idf[i]) * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    return (
        joined.select(F.col("doc_id"), score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


@register("bm25_maintained_topk", _bm25_maintained_oracle())
def q_bm25_maintained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_curation2 import _BM25_B, _BM25_K, _BM25_K1, _BM25_TERMS

    return _bm25_serve_from_state(
        _ivm_df_state(spark, sf_dir),
        list(_BM25_TERMS), _BM25_K, _BM25_K1, _BM25_B,
    )


# ---------------------------------------------------------------------------
# HYBRID RETRIEVAL SERVED WHOLLY FROM MAINTAINED STATE (r14): the
# capstone of the maintained-index family — ONE churned corpus
# (doc_id, text, embedding), BOTH index tiers maintained over it (the
# (term, doc, tf) text state and the CDC-folded IVF postings), and
# the hybrid RRF query answered without touching the corpus: the
# sparse arm scores from the text state (driver-side idf literals),
# the dense arm probes the maintained postings exhaustively (== brute
# force over the live corpus, the ann_ivf_index_maintained trick),
# and the fusion is the k-sized rrf_fuse tail. Freshness is part of
# the gate: one query term ('zqdrift') exists ONLY in post-init
# edits, and the DML negates some vectors — a stale index fails the
# oracle, which replays the DML in SQL and recomputes both arms from
# scratch.
# ---------------------------------------------------------------------------

_HYB_M_TERMS = ["vector", "stream", "zqdrift"]
_HYB_M_K, _HYB_M_K_EACH, _HYB_M_RRF_K = 10, 20, 60
_HYB_M_QV_ID = 7
_HYB_M_LISTS = 8

_HYB_M_STATES: dict[tuple[int, str], tuple] = {}


def _hybrid_maintained_state(spark: SparkSession, sf_dir: str) -> tuple:
    """Build (once per session+corpus) the maintained pair behind
    hybrid_rrf_maintained: scratch source TxTable of
    (doc_id, text, embedding) → init BOTH indexes at v0 → DML churn
    touching BOTH modalities (late append, text edit, vector negate,
    delete) → fold BOTH (one delta merge for the text state, one CDC
    MERGE for the postings). Returns (text_state, ivf_path). All of
    this is construction work; warm runs time the two SERVING arms."""
    from .operators import ivm
    from .operators import similarity as sim
    from .operators import text as txt

    key = (id(spark), sf_dir)
    cached = _HYB_M_STATES.get(key)
    if cached is not None:
        return cached

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    n = base.count()
    c1 = int(0.7 * n)
    scratch = tempfile.mkdtemp(prefix="txtable_hybm_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    src = TxTable.create(
        spark,
        os.path.join(scratch, "src"),
        base.filter(F.col("doc_id") < c1),
        stats_columns=["doc_id"],
    )

    def expand(df: DataFrame) -> DataFrame:
        extra = ["_change_type"] if "_change_type" in df.columns else []
        return df.select(
            "doc_id", *extra, F.explode(txt.tokens("text")).alias("term")
        ).filter(F.col("term") != "")

    keys = ["term", "doc_id"]
    state = ivm.state_of(expand(src.read(version=0)), keys)
    idx = os.path.join(scratch, "ivf")
    assert (
        sim.refresh_ivf_index(
            spark, src, idx, n_lists=_HYB_M_LISTS, n_iter=4, seed=7,
            id_col="doc_id", vec_col="embedding",
        )
        == 0
    )

    # churn on BOTH modalities, then one fold per index
    src.append(base.filter(F.col("doc_id") >= c1))
    src.update(
        F.col("doc_id") % 5 == 2,
        {"text": F.concat(F.col("text"), F.lit(" zqdrift zqdrift"))},
    )
    src.update(
        F.col("doc_id") % 7 == 3,
        {"embedding": F.transform(F.col("embedding"), lambda x: -x)},
    )
    src.delete(F.col("doc_id") % 9 == 4)

    feed = expand(src.change_feed("doc_id", 0, src.latest_version()))
    state = ivm.merge_states(
        state, ivm.delta_state(feed, keys), keys
    ).localCheckpoint(eager=True)
    assert (
        sim.refresh_ivf_index(
            spark, src, idx, n_lists=_HYB_M_LISTS,
            id_col="doc_id", vec_col="embedding",
        )
        == 4
    )
    _HYB_M_STATES[key] = (state, idx)
    return _HYB_M_STATES[key]


def _hybrid_maintained_oracle() -> str:
    from .queries_curation2 import _BM25_B, _BM25_K1

    k1, b = _BM25_K1, _BM25_B
    k1p1 = f"{(k1 + 1.0)!r}::DOUBLE"
    one_minus_b = f"{(1.0 - b)!r}::DOUBLE"
    k1s, bs = f"{k1!r}::DOUBLE", f"{b!r}::DOUBLE"
    terms = _HYB_M_TERMS
    dfs = ",\n         ".join(
        f"(SELECT COUNT(DISTINCT doc_id) FROM tok2 WHERE term = '{t}') AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ",\n            ".join(
        f"SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    score = "0.0"
    for i in range(len(terms)):
        score += (
            f"\n           + ln(1 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
            f" * (t.tf{i} * {k1p1})"
            f" / (t.tf{i} + {k1s} * ({one_minus_b} + {bs} * t.dl / s.avgdl))"
        )
    rk = _HYB_M_RRF_K
    return f"""
    WITH base AS (
      SELECT d.doc_id, d.text, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    upd AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 2 THEN text || ' zqdrift zqdrift'
                  ELSE text END AS text,
             CASE WHEN doc_id % 7 = 3 THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM base
    ),
    fin AS (SELECT * FROM upd WHERE doc_id % 9 <> 4),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM fin
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY doc_id),
    s AS (
      SELECT (SELECT COUNT(*) FROM dl) AS n,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl,
         {dfs}
    ),
    tfx AS (
      SELECT doc_id,
            {tfs}
      FROM tok2 GROUP BY doc_id
    ),
    t AS (
      SELECT d.doc_id, d.dl,
             {", ".join(f"COALESCE(x.tf{i}, 0) AS tf{i}" for i in range(len(terms)))}
      FROM dl d LEFT JOIN tfx x USING (doc_id)
    ),
    bm AS (
      SELECT t.doc_id, {score} AS score
      FROM t CROSS JOIN s
    ),
    brank AS (
      SELECT doc_id, text_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
        FROM bm
      ) WHERE text_rank <= {_HYB_M_K_EACH}
    ),
    qv AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = {_HYB_M_QV_ID}
    ),
    vrank AS (
      SELECT doc_id, vec_rank FROM (
        SELECT f.doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(
                            list_transform(f.embedding, x -> CAST(x AS DOUBLE)),
                            qv.v) DESC,
                          f.doc_id ASC
               ) AS vec_rank
        FROM fin f CROSS JOIN qv
      ) WHERE vec_rank <= {_HYB_M_K_EACH}
    ),
    fused AS (
      SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
             b.text_rank, v.vec_rank,
             COALESCE((1.0::DOUBLE) / ({rk} + b.text_rank), 0.0::DOUBLE)
               + COALESCE((1.0::DOUBLE) / ({rk} + v.vec_rank), 0.0::DOUBLE)
               AS rrf_score
      FROM brank b FULL OUTER JOIN vrank v ON b.doc_id = v.doc_id
    )
    SELECT doc_id, text_rank, vec_rank, rrf_score, rank FROM (
      SELECT doc_id, text_rank, vec_rank, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= {_HYB_M_K}
    """


@register("hybrid_rrf_maintained", _hybrid_maintained_oracle())
def q_hybrid_rrf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators import retrieval as rt
    from .operators import similarity as sim
    from .queries_curation2 import _BM25_B, _BM25_K1

    state, idx = _hybrid_maintained_state(spark, sf_dir)

    sparse = _bm25_serve_from_state(
        state, _HYB_M_TERMS, _HYB_M_K_EACH, _BM25_K1, _BM25_B
    )
    sparse = sparse.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
    )
    queries = (
        read_testdata(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == _HYB_M_QV_ID)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    dense = sim.ivf_index_topk(
        spark, idx, queries,
        k=_HYB_M_K_EACH, n_probe=_HYB_M_LISTS,  # exhaustive => exact
        id_col="doc_id", vec_col="embedding", dim=64,
    ).select("doc_id", "rank")
    return rt.rrf_fuse(
        [("text", sparse), ("vec", dense)],
        k=_HYB_M_K, rrf_k=_HYB_M_RRF_K, id_col="doc_id",
    )
