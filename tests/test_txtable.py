"""Transactional table format (sources/txtable.py): ACID commits,
snapshot isolation, time travel, file-pruned DELETE/MERGE, zone-map
skipping, optimistic concurrency, crash invisibility, checkpoint
replay, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
    CHECKPOINT_INTERVAL,
    ConcurrentWriteError,
    SchemaMismatchError,
    TxTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, lo, hi, mul=1):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * mul).cast("long").alias("v"),
    )


def test_create_append_read_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t1")
    t = TxTable.create(spark, p, _mk(spark, 0, 100), stats_columns=["k"])
    assert t.read().count() == 100
    t.append(_mk(spark, 100, 150))
    got = t.read()
    assert got.count() == 150
    assert [f.name for f in got.schema.fields] == ["k", "v"]
    assert _rows(got) == _rows(_mk(spark, 0, 150))
    with pytest.raises(FileExistsError):
        TxTable.create(spark, p, _mk(spark, 0, 1))
    with pytest.raises(SchemaMismatchError):
        t.append(spark.range(5).select(F.col("id").alias("wrong")))


def test_time_travel_history_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "t2")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    t.append(_mk(spark, 10, 20))
    t.overwrite(_mk(spark, 50, 55))
    assert t.read().count() == 5
    assert t.read(version=0).count() == 10  # time travel
    assert t.read(version=1).count() == 20
    ops = [h["operation"] for h in t.history()]
    assert ops == ["CREATE", "APPEND", "OVERWRITE"]


def test_overwrite_replace_schema(spark, tmp_path):
    """r14 (the Delta overwriteSchema contract): OVERWRITE can swap
    the table schema in the SAME atomic commit; time travel resolves
    each version against the metaData in force when it committed;
    tables whose metadata references old-schema columns refuse."""
    p = str(tmp_path / "trs")
    t = TxTable.create(spark, p, _mk(spark, 0, 10), stats_columns=["k"])
    new = spark.range(4).select(
        F.col("id").alias("k"),
        F.lit("x").alias("s1"),
        F.lit(1.5).alias("s2"),
    )
    # default overwrite refuses the new shape; replace_schema commits it
    with pytest.raises(SchemaMismatchError):
        t.overwrite(new)
    v = t.overwrite(new, replace_schema=True)
    assert [f.name for f in t.read().schema.fields] == ["k", "s1", "s2"]
    assert t.read().count() == 4
    # time travel: the pre-swap version keeps the OLD schema
    assert [f.name for f in t.read(version=v - 1).schema.fields] == ["k", "v"]
    assert t.read(version=v - 1).count() == 10
    # post-swap appends enforce the NEW schema; stats columns survived
    t.append(new)
    assert t.read().count() == 8
    with pytest.raises(SchemaMismatchError):
        t.append(_mk(spark, 0, 1))
    # a replacement schema dropping a stats column is refused
    with pytest.raises(SchemaMismatchError, match="stats"):
        t.overwrite(
            spark.range(2).select(F.col("id").alias("z")),
            replace_schema=True,
        )
    # metadata referencing old columns blocks the swap
    t2 = TxTable.create(spark, str(tmp_path / "trs2"), _mk(spark, 0, 5))
    t2.add_check_constraint("pos", "v IS NOT NULL")
    with pytest.raises(SchemaMismatchError, match="CHECK"):
        t2.overwrite(new, replace_schema=True)


def test_delete_rewrites_only_affected_files(spark, tmp_path):
    p = str(tmp_path / "t3")
    # two disjoint files via two commits of 1 partition each
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1))
    t.append(_mk(spark, 100, 200).coalesce(1))
    before = set(t.snapshot().files)
    assert len(before) == 2
    t.delete(F.col("k") < 50)
    after = t.snapshot()
    # the file holding k>=100 must survive untouched
    assert len(set(after.files) & before) == 1
    assert _rows(t.read()) == _rows(_mk(spark, 50, 200))
    # no-op delete commits nothing
    v = after.version
    assert t.delete(F.col("k") > 10_000) == v


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    p = str(tmp_path / "t3n")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "k long, v long"
    )
    t = TxTable.create(spark, p, df)
    t.delete(F.col("v") < 10)  # NULL v evaluates NULL -> KEEP
    assert _rows(t.read()) == [(2, None), (3, 50)]


def test_merge_matches_merge_changes_semantics(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.relational import (
        merge_changes,
    )

    p = str(tmp_path / "t4")
    base = _mk(spark, 0, 100).coalesce(1)
    t = TxTable.create(spark, p, base)
    t.append(_mk(spark, 100, 200).coalesce(1))
    src = spark.range(150, 250).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
        F.when(F.col("id") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    t.merge(src, "k")
    expected = merge_changes(_mk(spark, 0, 200), src, ["k"])
    assert _rows(t.read()) == _rows(expected)


def test_merge_txn_idempotent_replay(spark, tmp_path):
    """merge(txn=...) (r11): the Delta txnAppId/txnVersion contract —
    a replayed MERGE whose epoch is at or below the table's recorded
    watermark NO-OPS (no new commit, no data change), an advancing
    epoch applies, and the watermark lands in the SAME commit as the
    merged files (crash-safe: there is no window where data moved but
    the mark didn't)."""
    p = str(tmp_path / "tmi")
    t = TxTable.create(spark, p, _mk(spark, 0, 50).coalesce(1))
    src = spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.lit(None).cast("string").alias("op"),
    )
    v1 = t.merge(src, "k", txn=("idx-job", 3))
    assert t.snapshot().txns["idx-job"] == 3
    rows_after = _rows(t.read())

    # replay at the same epoch: same version returned, nothing changes
    poison = spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.lit(-999).cast("long").alias("v"),
        F.lit(None).cast("string").alias("op"),
    )
    assert t.merge(poison, "k", txn=("idx-job", 3)) == v1
    assert t.latest_version() == v1
    assert _rows(t.read()) == rows_after

    # stale epoch below the mark also no-ops
    assert t.merge(poison, "k", txn=("idx-job", 2)) == v1
    assert _rows(t.read()) == rows_after

    # advancing epoch applies and moves the mark
    v2 = t.merge(poison, "k", txn=("idx-job", 4))
    assert v2 == v1 + 1 and t.snapshot().txns["idx-job"] == 4
    assert _rows(t.read()) != rows_after


def test_merge_prunes_unmatched_files(spark, tmp_path):
    p = str(tmp_path / "t5")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1))
    t.append(_mk(spark, 100, 200).coalesce(1))
    before = set(t.snapshot().files)
    src = spark.range(150, 160).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("v"),
        F.lit("U").alias("op"),
    )
    t.merge(src, "k")
    # file 1 (k<100) holds no matched key: survives byte-identical
    assert len(set(t.snapshot().files) & before) == 1


def test_zone_map_pruning_skips_files(spark, tmp_path):
    p = str(tmp_path / "t6")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1), stats_columns=["k"])
    t.append(_mk(spark, 100, 200).coalesce(1))
    t.append(_mk(spark, 200, 300).coalesce(1))
    pruned = t.read_pruned("k", 120, 180)
    # only the middle file is read
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 61
    with pytest.raises(ValueError):
        t.read_pruned("v", 0, 1)  # no stats on v


def test_concurrent_append_rebase_and_conflicts(spark, tmp_path):
    p = str(tmp_path / "t7")
    t1 = TxTable.create(spark, p, _mk(spark, 0, 10))
    t2 = TxTable(spark, p)
    # interleave: t2 commits version 1 while t1's append is in flight —
    # simulate by committing t2 first, then t1 must land at version 2.
    t2.append(_mk(spark, 10, 20))
    v = t1.append(_mk(spark, 20, 30))
    assert v == 2
    assert t1.read().count() == 30
    # read-modify-write conflicts surface instead of silently
    # rebasing: a competitor lands the next version AFTER the
    # overwrite has read its snapshot (injected via a one-shot hook on
    # the data-file write, i.e. mid-operation).
    orig = TxTable._write_files
    fired = {"done": False}

    def racing(self, df, stats, bloom_spec=None, **kw):
        adds = orig(self, df, stats, bloom_spec, **kw)
        if not fired["done"]:
            fired["done"] = True
            TxTable(spark, p).append(_mk(spark, 30, 35))
        return adds

    TxTable._write_files = racing
    try:
        with pytest.raises(ConcurrentWriteError):
            t1.overwrite(_mk(spark, 0, 1))
    finally:
        TxTable._write_files = orig


def test_crashed_write_is_invisible_and_vacuumed(spark, tmp_path):
    p = str(tmp_path / "t8")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    n_before = t.read().count()
    # a crashed writer: data file landed, commit never published
    orphan = os.path.join(p, "deadbeef.parquet")
    _mk(spark, 0, 5).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "o"))
    part = next(
        f for f in os.listdir(str(tmp_path / "o")) if f.endswith(".parquet")
    )
    os.replace(os.path.join(str(tmp_path / "o"), part), orphan)
    assert t.read().count() == n_before  # reader never sees it
    assert t.vacuum() == []  # retention window protects fresh files
    gone = t.vacuum(min_age_seconds=0)
    assert "deadbeef.parquet" in gone
    assert not os.path.exists(orphan)
    # live files survive vacuum
    assert t.read().count() == n_before


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    import json

    p = str(tmp_path / "t9")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    # older writers recorded per-file nullCounts in each add action: a
    # log that still carries them loads, replays and checkpoints as usual
    v0 = os.path.join(p, "_txlog", f"{0:020d}.json")
    with open(v0) as f:
        actions = [json.loads(line) for line in f]
    for a in actions:
        if "add" in a:
            a["add"]["nullCounts"] = {"k": 0, "v": 0}
    with open(v0, "w") as f:
        f.writelines(json.dumps(a) + "\n" for a in actions)
    assert all("nullCounts" not in m for m in t.snapshot().files.values())
    for i in range(CHECKPOINT_INTERVAL + 2):
        t.append(_mk(spark, 10 * (i + 1), 10 * (i + 2)).coalesce(1))
    cps = t._checkpoints()
    assert cps and cps[-1] >= CHECKPOINT_INTERVAL
    total = 10 * (CHECKPOINT_INTERVAL + 3)
    assert t.read().count() == total
    # delete every pre-checkpoint commit file: snapshot still works
    # because replay starts at the checkpoint
    log = os.path.join(p, "_txlog")
    for v in range(cps[-1]):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    assert TxTable(spark, p).read().count() == total
    # time travel BELOW the checkpoint now has a log gap: loud error,
    # never a silently wrong snapshot
    with pytest.raises(ValueError, match="does not exist|missing from the log"):
        TxTable(spark, p).read(version=cps[-1] - 1)


def test_optimize_compacts_and_clusters(spark, tmp_path):
    p = str(tmp_path / "t10")
    # 4 small files with INTERLEAVED key ranges: zone maps overlap, so
    # pruning can't skip anything
    t = TxTable.create(
        spark,
        p,
        spark.createDataFrame([(i, i) for i in range(0, 200, 2)], "k long, v long")
        .coalesce(1),
        stats_columns=["k"],
    )
    t.append(
        spark.createDataFrame([(i, i) for i in range(1, 200, 2)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(i, i) for i in range(200, 400, 2)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(i, i) for i in range(201, 400, 2)], "k long, v long")
        .coalesce(1)
    )
    pre_version = t.latest_version()
    before = _rows(t.read())
    assert len(t.read_pruned("k", 0, 50).inputFiles()) == 2  # overlap
    t.optimize(target_file_rows=200, sort_by=["k"])
    snap = t.snapshot()
    assert len(snap.files) == 2  # 400 rows / 200 target
    assert _rows(t.read()) == before  # row set unchanged
    # range clustering → disjoint zone maps → one file per range probe
    assert len(t.read_pruned("k", 0, 50).inputFiles()) == 1
    assert _rows(t.read(version=pre_version)) == before  # time travel intact
    assert [h["operation"] for h in t.history()][-1] == "OPTIMIZE"


def test_stream_epoch_append_is_idempotent(spark, tmp_path):
    p = str(tmp_path / "t11")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    assert t.stream_epoch_append(_mk(spark, 10, 20), "appA", 0) is True
    # engine replays the same epoch after a crash: no-op
    assert t.stream_epoch_append(_mk(spark, 10, 20), "appA", 0) is False
    assert t.read().count() == 20
    # a DIFFERENT writer's epoch 0 is independent
    assert t.stream_epoch_append(_mk(spark, 20, 30), "appB", 0) is True
    assert t.read().count() == 30
    assert t.snapshot().txns == {"appA": 0, "appB": 0}


def test_write_stream_exactly_once_vs_batch_twin(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
        read_testdata,
    )
    from .conftest import SF_SMOKE

    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "stream_ckpt")
    events = read_testdata(spark, SF_SMOKE, "events").select(
        "event_id", "event_type"
    )
    first = events.filter(F.col("event_id") < 200)
    second = events.filter(
        (F.col("event_id") >= 200) & (F.col("event_id") < 300)
    )
    first.coalesce(1).write.parquet(str(src / "b1"))

    t = TxTable.create(
        spark, str(tmp_path / "t12"), events.limit(0), stats_columns=[]
    )

    def stream():
        return (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
        )

    t.write_stream(stream(), ckpt, app_id="ingest")
    assert t.read().count() == first.count()
    # re-drain with NO new data: no duplicate epochs, no new rows
    t.write_stream(stream(), ckpt, app_id="ingest")
    assert t.read().count() == first.count()
    # incremental: second file arrives, drain appends exactly it
    second.coalesce(1).write.parquet(str(src / "b2"))
    t.write_stream(stream(), ckpt, app_id="ingest")
    got = t.read()
    assert got.count() == first.count() + second.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_change_feed_insert_update_delete_and_optimize_silence(spark, tmp_path):
    p = str(tmp_path / "t13")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1), stats_columns=["k"])
    v0 = t.latest_version()
    t.append(_mk(spark, 100, 120).coalesce(1))
    v1 = t.latest_version()
    # append window: pure inserts
    feed = t.change_feed("k", v0, v1)
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}
    assert feed.count() == 20
    # merge: k 90..110 doubled, k%7==0 deleted
    src = spark.range(90, 110).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("long").alias("v"),
        F.when(F.col("id") % 7 == 0, "D").otherwise("U").alias("op"),
    )
    t.merge(src, "k")
    v2 = t.latest_version()
    feed = t.change_feed("k", v1, v2)
    by_type = {}
    for r in feed.collect():
        by_type.setdefault(r["_change_type"], set()).add(r["k"])
    deleted = {k for k in range(90, 110) if k % 7 == 0}
    updated = {k for k in range(90, 110) if k % 7 != 0 and k * 2 != k}
    assert by_type["delete"] == deleted
    assert by_type["update_preimage"] == updated - {0}
    assert by_type["update_postimage"] == by_type["update_preimage"]
    assert "insert" not in by_type  # all source keys existed
    # OPTIMIZE moves every row to new files but changes none: empty feed
    t.optimize(target_file_rows=1000, sort_by=["k"])
    assert t.change_feed("k", v2, t.latest_version()).count() == 0
    # full-span feed composes: v0 -> latest sees net effect only
    net = t.change_feed("k", v0, t.latest_version())
    assert {r["k"] for r in net.filter(F.col("_change_type") == "insert").collect()} == set(
        range(100, 120)
    ) - deleted


def test_schema_evolution_additive_append(spark, tmp_path):
    p = str(tmp_path / "t14")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    wide = spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("v"),
        (F.col("id") % 3).cast("long").alias("extra"),
    )
    with pytest.raises(SchemaMismatchError):
        t.append(wide)  # strict mode still rejects
    t.append(wide, merge_schema=True)
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["k", "v", "extra"]
    # old files read back with NULL extra; new rows carry values
    assert got.filter(F.col("extra").isNull()).count() == 10
    assert got.filter(F.col("extra").isNotNull()).count() == 10
    # dropping a table column is NOT evolution
    with pytest.raises(SchemaMismatchError):
        t.append(_mk(spark, 0, 1), merge_schema=True)
    # neither is retyping
    bad = spark.range(1).select(
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("v"),
        F.lit("s").alias("extra"),
    )
    with pytest.raises(SchemaMismatchError):
        t.append(bad, merge_schema=True)
    # time travel renders the PRE-evolution schema
    assert [f.name for f in t.read(version=0).schema.fields] == ["k", "v"]


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    p = str(tmp_path / "t15")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    t.append(_mk(spark, 10, 20).coalesce(1))
    good = t.latest_version()
    t.delete(F.col("k") >= 0)  # catastrophic delete
    assert t.read().count() == 0
    v = t.restore(good)
    assert v == good + 2
    assert _rows(t.read()) == _rows(_mk(spark, 0, 20))
    ops = [h["operation"] for h in t.history()]
    assert ops[-1] == "RESTORE" and "DELETE" in ops  # history preserved
    # the bad version is still time-travelable
    assert t.read(version=good + 1).count() == 0
    # vacuum keeps the restored files alive
    t.vacuum()
    assert t.read().count() == 20


def test_schema_evolving_append_conflict_raises(spark, tmp_path):
    """A schema-evolving append is read-modify-write: losing the
    version race must RAISE, not rebase — a rebased stale metaData
    action would silently revert a concurrent writer's evolution."""
    p = str(tmp_path / "t16")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    wide = spark.range(10, 12).select(
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("v"),
        F.lit(1).cast("long").alias("extra"),
    )
    orig = TxTable._write_files
    fired = {"done": False}

    def racing(self, df, stats, bloom_spec=None, **kw):
        adds = orig(self, df, stats, bloom_spec, **kw)
        if not fired["done"]:
            fired["done"] = True
            TxTable(spark, p).append(_mk(spark, 50, 55))
        return adds

    TxTable._write_files = racing
    try:
        with pytest.raises(ConcurrentWriteError):
            t.append(wide, merge_schema=True)
    finally:
        TxTable._write_files = orig
    # the competitor's commit survives; no stale schema was published
    assert [f.name for f in TxTable(spark, p).read().schema.fields] == ["k", "v"]
    assert TxTable(spark, p).read().count() == 15


def test_change_feed_spans_schema_evolution(spark, tmp_path):
    """A CDC window that crosses an additive evolution aligns both
    sides to the union schema (NULL-filled) instead of failing to
    resolve the new column against pre-evolution files."""
    p = str(tmp_path / "t17")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    v0 = t.latest_version()
    wide = spark.range(10, 15).select(
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("v"),
        (F.col("id") * 100).cast("long").alias("extra"),
    )
    t.append(wide, merge_schema=True)
    t.delete(F.col("k") < 3)  # rewrites a pre-evolution file
    feed = t.change_feed("k", v0)
    rows = {(r["k"], r["_change_type"]): r for r in feed.collect()}
    assert {(k, c) for k, c in rows} == {(k, "delete") for k in range(3)} | {
        (k, "insert") for k in range(10, 15)
    }
    assert rows[(0, "delete")]["extra"] is None  # pre-evolution row
    assert rows[(10, "insert")]["extra"] == 1000


# ----------------------------------------------------------------------
# deletion vectors (merge-on-read DELETE)
# ----------------------------------------------------------------------


def _data_files(t):
    return {p for p in t.snapshot().files}


def test_mor_delete_writes_no_data_files(spark, tmp_path):
    """strategy='mor' masks positions in a sidecar: the data-file set
    is unchanged (no rewrite), reads exclude the masked rows, and time
    travel to the pre-delete version still sees them."""
    p = str(tmp_path / "t18")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1))
    t.append(_mk(spark, 100, 200).coalesce(1))
    before = _data_files(t)
    v0 = t.latest_version()
    t.delete((F.col("k") % 10 == 0) & (F.col("k") < 100), strategy="mor")
    assert _data_files(t) == before  # no data file rewritten
    sidecars = [n for n in os.listdir(p) if n.endswith(".dv.parquet")]
    assert len(sidecars) == 1
    expect = [k for k in range(200) if not (k % 10 == 0 and k < 100)]
    assert _rows(t.read()) == sorted((k, k) for k in expect)
    assert t.read(version=v0).count() == 200  # time travel unaffected
    # only the file holding k<100 carries the DV
    snap = t.snapshot()
    dv_meta = [m for m in snap.files.values() if m.get("dv")]
    assert len(dv_meta) == 1 and dv_meta[0]["dvRows"] == 10


def test_mor_delete_stacks_and_cow_purges(spark, tmp_path):
    """A second MOR delete on the same file unions the old positions
    into a fresh sidecar; a later COW delete rewrites the file with
    all masked rows gone for good."""
    p = str(tmp_path / "t19")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1))
    t.delete(F.col("k") < 10, strategy="mor")
    first_dv = next(m["dv"] for m in t.snapshot().files.values() if m.get("dv"))
    t.delete(F.col("k") >= 90, strategy="mor")
    snap = t.snapshot()
    meta = next(iter(snap.files.values()))
    assert meta["dv"] != first_dv  # re-pointed at the stacked sidecar
    assert meta["dvRows"] == 20
    assert _rows(t.read()) == sorted((k, k) for k in range(10, 90))
    # COW rewrite must not resurrect the masked rows
    t.delete(F.col("k") % 2 == 0, strategy="cow")
    snap = t.snapshot()
    assert not any(m.get("dv") for m in snap.files.values())
    assert _rows(t.read()) == sorted((k, k) for k in range(10, 90) if k % 2)


def test_mor_auto_strategy_picks_by_density(spark, tmp_path):
    """auto = MOR for sparse deletes (<= threshold of affected files'
    physical rows), COW for dense ones."""
    p = str(tmp_path / "t20")
    t = TxTable.create(spark, p, _mk(spark, 0, 1000).coalesce(1))
    before = _data_files(t)
    t.delete(F.col("k") < 5, strategy="auto")  # 0.5% -> MOR
    assert _data_files(t) == before
    assert any(m.get("dv") for m in t.snapshot().files.values())
    t.delete(F.col("k") < 900, strategy="auto")  # ~90% -> COW
    snap = t.snapshot()
    assert _data_files(t) != before
    assert not any(m.get("dv") for m in snap.files.values())
    assert _rows(t.read()) == sorted((k, k) for k in range(900, 1000))


def test_merge_on_dv_file_does_not_resurrect(spark, tmp_path):
    """MERGE against a DV'd file: the masked rows stay deleted through
    the copy-on-write rewrite, upserts/deletes apply on the live view."""
    p = str(tmp_path / "t21")
    t = TxTable.create(spark, p, _mk(spark, 0, 50).coalesce(1))
    t.delete(F.col("k") < 5, strategy="mor")
    src = spark.createDataFrame(
        [(2, 222, "U"), (10, 111, "U"), (20, None, "D")],
        "k long, v long, op string",
    )
    t.merge(src, "k")
    got = dict(_rows(t.read()))
    assert 20 not in got and got[10] == 111
    assert got[2] == 222          # re-inserting a masked key is an upsert
    assert all(k not in got for k in (0, 1, 3, 4))  # still deleted
    assert not any(m.get("dv") for m in t.snapshot().files.values())


def test_change_feed_and_restore_across_mor_delete(spark, tmp_path):
    """A DV re-point is a file-identity change: the feed emits exactly
    the masked rows as deletes, and RESTORE to the pre-delete version
    un-points the sidecar (rows come back, history preserved)."""
    p = str(tmp_path / "t22")
    t = TxTable.create(spark, p, _mk(spark, 0, 30).coalesce(1))
    v0 = t.latest_version()
    t.delete(F.col("k").isin(3, 7), strategy="mor")
    feed = t.change_feed("k", v0)
    assert {(r["k"], r["_change_type"]) for r in feed.collect()} == {
        (3, "delete"),
        (7, "delete"),
    }
    t.restore(v0)
    assert t.read().count() == 30
    assert not any(m.get("dv") for m in t.snapshot().files.values())
    # and restoring FORWARD onto the DV version re-points the sidecar
    t.restore(v0 + 1)
    assert _rows(t.read()) == sorted((k, k) for k in range(30) if k not in (3, 7))


def test_optimize_purges_dvs_and_vacuum_retains_sidecars(spark, tmp_path):
    """OPTIMIZE compacts the LIVE view (DVs drop out of the new files);
    vacuum never deletes a sidecar still referenced by a retained
    version, so time travel through the DV era keeps working."""
    p = str(tmp_path / "t23")
    t = TxTable.create(spark, p, _mk(spark, 0, 100).coalesce(1))
    t.delete(F.col("k") < 20, strategy="mor")
    v_dv = t.latest_version()
    t.optimize(target_file_rows=1000)
    snap = t.snapshot()
    assert not any(m.get("dv") for m in snap.files.values())
    assert t.read().count() == 80
    t.vacuum(min_age_seconds=0)
    assert [n for n in os.listdir(p) if n.endswith(".dv.parquet")]
    assert t.read(version=v_dv).count() == 80  # DV era still readable


# ----------------------------------------------------------------------
# bloom-filter file skipping (point lookups)
# ----------------------------------------------------------------------


def test_bloom_point_lookup_skips_files(spark, tmp_path):
    """Per-file blooms: a point lookup opens only the file(s) whose
    filter claims the value; misses open (almost) nothing; results
    are exact because the equality filter applies on top."""
    p = str(tmp_path / "t24")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 100).coalesce(1), bloom_columns=["k"]
    )
    for lo in (100, 200, 300):
        t.append(_mk(spark, lo, lo + 100).coalesce(1))
    snap = t.snapshot()
    assert len(snap.files) == 4
    assert all(len(m["bloom"]["k"]) == 256 for m in snap.files.values())
    keep = t.bloom_keep_files("k", 250)
    assert len(keep) == 1  # deterministic for this data
    assert [(r["k"], r["v"]) for r in t.read_point("k", 250).collect()] == [
        (250, 250)
    ]
    # absent key: bloom says no file holds it
    assert t.bloom_keep_files("k", 987_654) == []
    assert t.read_point("k", 987_654).count() == 0
    with pytest.raises(ValueError):
        t.bloom_keep_files("v", 1)
    with pytest.raises(ValueError):
        t.bloom_keep_files("k", None)


def test_bloom_string_column_and_rewrite_survival(spark, tmp_path):
    """Blooms on a string key (negative xxhash64 values exercise the
    signed pmod parity); COW rewrites recompute them, RESTORE carries
    them, and NULL values are simply absent from the filter."""
    p = str(tmp_path / "t25")
    df1 = spark.createDataFrame(
        [("alpha", 1), ("beta", 2), (None, 3)], "name string, v long"
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [("gamma", 4), ("delta", 5)], "name string, v long"
    ).coalesce(1)
    t = TxTable.create(spark, p, df1, bloom_columns=["name"])
    t.append(df2)
    assert len(t.bloom_keep_files("name", "delta")) == 1
    assert t.read_point("name", "delta").collect()[0]["v"] == 5
    assert t.read_point("name", "nope").count() == 0
    v0 = t.latest_version()
    # COW delete rewrites file 1 — its new file gets a fresh bloom
    t.delete(F.col("v") == 1, strategy="cow")
    assert t.read_point("name", "beta").collect()[0]["v"] == 2
    assert t.read_point("name", "alpha").count() == 0
    t.restore(v0)
    assert t.read_point("name", "alpha").collect()[0]["v"] == 1
    # schema evolution preserves the spec
    wide = spark.createDataFrame(
        [("eps", 6, 60)], "name string, v long, extra long"
    )
    t.append(wide, merge_schema=True)
    assert t.read_point("name", "eps").collect()[0]["extra"] == 60


def test_zorder_optimize_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering makes zone maps selective on EVERY z-ordered
    column: after OPTIMIZE(zorder_by=[k, h]) a narrow range probe on k
    AND one on h each skip most files, while plain range clustering on
    k leaves h probes reading everything."""
    p_z = str(tmp_path / "tz")
    p_r = str(tmp_path / "tr")
    # two near-independent dimensions: k sequential, h a multiplicative
    # scramble of k
    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        (F.col("id") * 2654435761 % 4096).alias("h"),
    )
    tz = TxTable.create(spark, p_z, df, stats_columns=["k", "h"])
    tr = TxTable.create(spark, p_r, df, stats_columns=["k", "h"])
    tz.optimize(target_file_rows=256, zorder_by=["k", "h"], zorder_bits=4)
    tr.optimize(target_file_rows=256, sort_by=["k"])
    n_z = len(tz.snapshot().files)
    n_r = len(tr.snapshot().files)
    assert n_z == 16 and n_r == 16

    def kept(t, col, lo, hi):
        snap = t.snapshot()
        n = 0
        for meta in snap.files.values():
            mn, mx = meta["stats"][col]
            if not (mx < lo or mn > hi):
                n += 1
        return n

    # range-clustered: perfect on k, useless on h
    assert kept(tr, "k", 100, 163) <= 2
    assert kept(tr, "h", 100, 163) == n_r
    # z-ordered: selective on BOTH (4-bit interleave -> each dimension
    # splits the file set)
    assert kept(tz, "k", 100, 163) <= n_z // 2
    assert kept(tz, "h", 100, 163) <= n_z // 2
    # correctness: row set unchanged, probes exact
    assert tz.read().count() == 4096
    got = sorted(r["k"] for r in tz.read_pruned("h", 100, 163).collect())
    want = sorted(
        k for k in range(4096) if 100 <= (k * 2654435761) % 4096 <= 163
    )
    assert got == want
    with pytest.raises(ValueError):
        tz.optimize(sort_by=["k"], zorder_by=["h"])


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: resolve to the latest commit at/before the
    given epoch-millis instant."""
    import time as _time

    p = str(tmp_path / "t26")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    _time.sleep(0.05)
    ts_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    t.append(_mk(spark, 10, 20))
    assert t.read(as_of_timestamp_ms=ts_between).count() == 10
    assert t.read(as_of_timestamp_ms=int(_time.time() * 1000) + 1000).count() == 20
    assert t.version_as_of(ts_between) == 0
    with pytest.raises(ValueError):
        t.version_as_of(ts_between - 10_000_000)
    with pytest.raises(ValueError):
        t.read(version=0, as_of_timestamp_ms=ts_between)


def test_expire_log_retention(spark, tmp_path):
    """expire_log drops commit files below the newest checkpoint: the
    table stays readable at and above it, time travel below raises the
    documented gap error, and a subsequent vacuum reclaims files only
    the expired era referenced."""
    p = str(tmp_path / "t27")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    for i in range(CHECKPOINT_INTERVAL + 2):  # versions 1..12
        t.overwrite(_mk(spark, i, i + 10).coalesce(1))
    assert t._checkpoints() == [CHECKPOINT_INTERVAL]
    gone = t.expire_log()
    assert [int(n[: -len(".json")]) for n in gone] == list(
        range(CHECKPOINT_INTERVAL)
    )
    assert t.read().count() == 10
    assert t.read(version=CHECKPOINT_INTERVAL).count() == 10
    with pytest.raises(ValueError, match="does not exist"):
        t.read(version=3)
    # files only the expired era referenced are now vacuum-able
    n_before = len([n for n in os.listdir(p) if n.endswith(".parquet")])
    t.vacuum(min_age_seconds=0)
    n_after = len([n for n in os.listdir(p) if n.endswith(".parquet")])
    assert n_after < n_before
    assert t.read().count() == 10  # live data untouched
    assert t.read(version=CHECKPOINT_INTERVAL).count() == 10
    # no checkpoint yet -> nothing to expire
    p2 = str(tmp_path / "t28")
    t2 = TxTable.create(spark, p2, _mk(spark, 0, 5))
    assert t2.expire_log() == []


def test_update_cow_and_mor_row_equivalent(spark, tmp_path):
    """UPDATE both ways: COW rewrites matched files through
    WHEN/OTHERWISE; MOR masks old versions in a DV and appends the
    updated rows. Same result, and NULL-predicate rows are untouched."""
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50), (4, 7)], "k long, v long"
    ).coalesce(1)
    results = {}
    for strategy in ("cow", "mor"):
        p = str(tmp_path / f"tu_{strategy}")
        t = TxTable.create(spark, p, df)
        before = set(t.snapshot().files)
        t.update(F.col("v") < 10, {"v": F.col("v") * 100}, strategy=strategy)
        results[strategy] = sorted(tuple(r) for r in t.read().collect())
        if strategy == "mor":
            # old file survives (masked), one appended file
            assert before <= set(t.snapshot().files)
            assert any(m.get("dv") for m in t.snapshot().files.values())
        else:
            assert not (before & set(t.snapshot().files))
    want = [(1, 500), (2, None), (3, 50), (4, 700)]
    assert results["cow"] == results["mor"] == sorted(want)


def test_update_mor_change_feed_and_errors(spark, tmp_path):
    """A MOR update reads back through the change feed as
    update_preimage/postimage (mask = old side, append = new side,
    same key); unknown assignment columns are rejected."""
    p = str(tmp_path / "tu2")
    t = TxTable.create(spark, p, _mk(spark, 0, 20).coalesce(1))
    v0 = t.latest_version()
    t.update(F.col("k") == 3, {"v": F.lit(999).cast("long")}, strategy="mor")
    feed = t.change_feed("k", v0)
    rows = {(r["k"], r["_change_type"]): r["v"] for r in feed.collect()}
    assert rows == {(3, "update_preimage"): 3, (3, "update_postimage"): 999}
    with pytest.raises(ValueError, match="unknown columns"):
        t.update(F.col("k") == 1, {"nope": F.lit(1)})
    # string expressions work too (SQL SET spelling)
    t.update(F.col("k") == 5, {"v": "v + k"}, strategy="cow")
    assert dict(_rows(t.read()))[5] == 10
    # no-op predicate commits nothing
    v = t.latest_version()
    assert t.update(F.col("k") > 10_000, {"v": F.lit(0).cast("long")}) == v


def test_log_store_is_swappable(spark, tmp_path):
    """The commit protocol's ONLY storage primitive is
    LogStore.put_if_absent: an emulated object-store conditional put
    (create-if-absent under a mutex, no hard links) drives the full
    lifecycle, and losing the conditional put surfaces as the same
    version-race signal the hard-link store produces."""
    import threading

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        LogStore,
    )

    class EmulatedObjectStore(LogStore):
        """S3-style conditional put (If-None-Match: *): existence
        check + publish made atomic by a mutex, the guarantee the
        real object store provides server-side."""

        def __init__(self):
            self.mutex = threading.Lock()
            self.puts = 0
            self.conflicts = 0

        def put_if_absent(self, content: bytes, dst: str) -> bool:
            with self.mutex:
                if os.path.exists(dst):
                    self.conflicts += 1
                    return False
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                tmp = dst + ".staged"
                with open(tmp, "wb") as f:
                    f.write(content)
                os.replace(tmp, dst)
                self.puts += 1
                return True

    store = EmulatedObjectStore()
    p = str(tmp_path / "obj")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 20).coalesce(1), log_store=store
    )
    t.append(_mk(spark, 20, 30).coalesce(1))
    t.delete(F.col("k") < 5)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(5, 30))
    assert store.puts == 3 and store.conflicts == 0
    # a lost conditional put is the conflict signal: another handle on
    # its own store commits version 3 first, ours rebases through the
    # logical conflict rules (disjoint append) and lands at 4
    other = TxTable(spark, p)  # default hard-link store, same log
    _race(t, lambda: other.append(_mk(spark, 100, 105).coalesce(1)))
    v = t.optimize(target_file_rows=1000)
    assert v == 4 and store.conflicts == 1
    assert t.read().count() == 30


def _race(t, interleaved):
    """Deterministically lose the version race: the first _try_commit
    of ``t`` runs ``interleaved`` (another writer's commit) first, so
    the target version is taken and the logical conflict rules decide
    rebase-vs-raise."""
    orig = t._try_commit
    state = {"armed": True}

    def wrapped(version, actions):
        if state["armed"]:
            state["armed"] = False
            interleaved()
        return orig(version, actions)

    t._try_commit = wrapped


def _two_file_table(spark, path):
    t = TxTable.create(spark, path, _mk(spark, 0, 10).coalesce(1))
    t.append(_mk(spark, 10, 20).coalesce(1))
    return t


def test_concurrent_disjoint_deletes_both_commit(spark, tmp_path):
    """Delta-style logical conflict detection: two DELETEs whose
    pruned read sets are disjoint FILES commute — the loser of the
    version race rebases instead of raising."""
    p = str(tmp_path / "cc1")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(t, lambda: other.delete(F.col("k") == 15))  # file 2 only
    v = t.delete(F.col("k") == 5)  # file 1 only
    assert v == 3  # rebased past the interleaved commit's version 2
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        set(range(20)) - {5, 15}
    )
    ops = [h["operation"] for h in t.history()]
    assert ops.count("DELETE") == 2


def test_concurrent_overlapping_deletes_raise(spark, tmp_path):
    """DELETEs whose read sets touch the same file still conflict."""
    p = str(tmp_path / "cc2")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(t, lambda: other.delete(F.col("k") == 4))
    with pytest.raises(ConcurrentWriteError, match="rewrote files"):
        t.delete(F.col("k") == 5)  # same file as k==4


def test_optimize_rebases_over_blind_append(spark, tmp_path):
    """A pure file-level OPTIMIZE serializes after a concurrent blind
    append: both commit, nothing is lost."""
    p = str(tmp_path / "cc3")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(t, lambda: other.append(_mk(spark, 100, 105).coalesce(1)))
    v = t.optimize(target_file_rows=1000)
    assert v == 3
    assert t.read().count() == 25
    # compaction touched only the pre-append files; append survives
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        list(range(20)) + list(range(100, 105))
    )


def test_predicate_dml_conflicts_with_concurrent_append(spark, tmp_path):
    """DELETE/UPDATE/MERGE read the table through a predicate, so a
    concurrent blind append (whose rows might have matched) raises —
    the ConcurrentAppendException rule."""
    p = str(tmp_path / "cc4")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(t, lambda: other.append(_mk(spark, 100, 105).coalesce(1)))
    with pytest.raises(ConcurrentWriteError, match="predicate may match"):
        t.delete(F.col("k") < 100)


def test_zone_scoped_delete_commutes_with_disjoint_append(spark, tmp_path):
    """r8 (VERDICT r7 #5): a DELETE that declares its read scope as a
    zone-map interval commutes with a concurrent blind append whose
    files are provably outside it (hourly appends vs range-scoped GDPR
    deletes no longer serialize); an overlapping append still raises,
    and so does an undeclared-scope DELETE."""
    p = str(tmp_path / "cc7")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10).coalesce(1), stats_columns=["k"]
    )
    t.append(_mk(spark, 10, 20).coalesce(1))
    other = TxTable(spark, p)
    # disjoint: append k=100..104, delete scope k in [0, 20]
    _race(t, lambda: other.append(_mk(spark, 100, 105).coalesce(1)))
    v = t.delete(F.col("k") == 5, read_interval=("k", 0, 20))
    assert v == 3  # rebased past the interleaved append at v2
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        (set(range(20)) - {5}) | set(range(100, 105))
    )
    # overlapping: append k=15..24 intersects scope [0, 20] -> raise
    _race(t, lambda: other.append(_mk(spark, 15, 25).coalesce(1)))
    with pytest.raises(ConcurrentWriteError, match="predicate may match"):
        t.delete(F.col("k") == 7, read_interval=("k", 0, 20))
    # no declared scope: conservative conflict, as before
    _race(t, lambda: other.append(_mk(spark, 200, 205).coalesce(1)))
    with pytest.raises(ConcurrentWriteError, match="predicate may match"):
        t.delete(F.col("k") == 8)
    # validation: non-stats column / NULL bound are caller errors
    with pytest.raises(ValueError, match="no zone-map stats"):
        t.delete(F.col("v") == 1, read_interval=("v", 0, 5))
    with pytest.raises(ValueError, match="non-NULL"):
        t.delete(F.col("k") == 1, read_interval=("k", None, 5))


def test_zone_scoped_update_and_merge_commute_with_disjoint_append(
    spark, tmp_path
):
    """The same zone-map commutation for UPDATE (explicit interval)
    and MERGE (interval auto-derived from the source's key range)."""
    p = str(tmp_path / "cc8")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10).coalesce(1), stats_columns=["k"]
    )
    t.append(_mk(spark, 10, 20).coalesce(1))
    other = TxTable(spark, p)
    _race(t, lambda: other.append(_mk(spark, 100, 105).coalesce(1)))
    v = t.update(
        F.col("k") == 5, {"v": F.lit(999).cast("long")},
        read_interval=("k", 0, 20),
    )
    assert v == 3  # rebased past the interleaved append at v2
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 999 and 100 in got
    # MERGE derives [min(source.k), max(source.k)] automatically:
    # source keys 0..3 are disjoint from the appended 300..304
    _race(t, lambda: other.append(_mk(spark, 300, 305).coalesce(1)))
    src = spark.createDataFrame(
        [(k, k * 7, None) for k in range(4)], "k long, v long, op string"
    )
    v = t.merge(src, "k")
    assert v == 5  # rebased past the interleaved append at v4
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] == 0 and got[3] == 21 and 300 in got
    # an overlapping source key range still raises
    _race(t, lambda: other.append(_mk(spark, 310, 315).coalesce(1)))
    src2 = spark.createDataFrame(
        [(312, 1, None)], "k long, v long, op string"
    )
    with pytest.raises(ConcurrentWriteError, match="predicate may match"):
        t.merge(src2, "k")


def test_delete_conflicts_with_concurrent_update(spark, tmp_path):
    """An interleaved UPDATE can create rows the predicate would have
    matched, so even file-disjoint UPDATE-vs-DELETE raises."""
    p = str(tmp_path / "cc5")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(
        t,
        lambda: other.update(
            F.col("k") == 15, {"v": F.lit(1).cast("long")}
        ),
    )
    with pytest.raises(ConcurrentWriteError, match="may have produced"):
        t.delete(F.col("k") == 5)


def test_disjoint_delete_rebases_over_optimize_free_files(spark, tmp_path):
    """Row-preserving OPTIMIZE of OTHER files does not invalidate a
    DELETE's read set... but an OPTIMIZE that rewrote the read files
    does. (OPTIMIZE compacts everything here, so it must conflict.)"""
    p = str(tmp_path / "cc6")
    t = _two_file_table(spark, p)
    other = TxTable(spark, p)
    _race(t, lambda: other.optimize(target_file_rows=1000))
    with pytest.raises(ConcurrentWriteError, match="rewrote files"):
        t.delete(F.col("k") == 5)


def test_change_data_feed_files_lifecycle(spark, tmp_path):
    """change_data_feed=True: DML commits persist classified change
    rows under _change_data/ (only rows that ACTUALLY changed — a
    no-op assignment emits nothing), the flag survives checkpoints
    and schema evolution, and vacuum reclaims change files once
    expire_log drops their commit."""
    import json

    p = str(tmp_path / "cdf")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10).coalesce(1), change_data_feed=True
    )
    assert t.snapshot().cdc_enabled
    # UPDATE that assigns every row its own value: cdc must be EMPTY
    t.update(F.col("k") >= 0, {"v": F.col("v")})
    log = os.path.join(p, "_txlog")
    acts = [
        json.loads(l)
        for l in open(os.path.join(log, sorted(os.listdir(log))[-1]))
    ]
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert info["cdc"] is True  # CDC computed...
    assert not any(
        "cdc" in a and a["cdc"].get("numRecords") for a in acts
    )  # ...and empty: no row changed
    # real delete writes change rows
    t.delete(F.col("k") < 4)
    cdc_dir = os.path.join(p, "_change_data")
    n_files = len(os.listdir(cdc_dir))
    assert n_files > 0
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(cdc_dir, "*.parquet"))
        .collect()
    )
    assert got == [(k, k, "delete") for k in range(4)]
    # flag survives evolution + checkpoint replay
    wide = spark.range(3).select(
        F.col("id").alias("k"),
        F.col("id").alias("v"),
        F.lit(1).alias("extra"),
    )
    t.append(wide, merge_schema=True)
    for i in range(CHECKPOINT_INTERVAL):
        t.append(
            _mk(spark, 100 + i, 101 + i)
            .withColumn("extra", F.lit(1))
            .coalesce(1)
        )
    assert t._checkpoints()
    assert t.snapshot().cdc_enabled
    # vacuum retains referenced change files; expire_log frees them
    t.vacuum(min_age_seconds=0)
    assert len(os.listdir(cdc_dir)) == n_files
    assert t.expire_log()
    gone = t.vacuum(min_age_seconds=0)
    assert any(g.startswith("_change_data/") for g in gone)
    assert len(os.listdir(cdc_dir)) == 0


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (r8, the Delta ALTER ADD CONSTRAINT concept):
    declared at CREATE, enforced row-level on append / overwrite /
    merge / update — a violating row fails the write naming the
    constraint; NULL evaluates UNKNOWN and passes (SQL CHECK
    semantics)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    p = str(tmp_path / "ck1")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10).coalesce(1),
        check_constraints={"v_nonneg": "v >= 0", "k_small": "k < 1000"},
    )
    assert t.snapshot().check_constraints == {
        "v_nonneg": "v >= 0", "k_small": "k < 1000"
    }
    # CREATE itself validates: a violating initial frame never lands
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="v_nonneg"):
        TxTable.create(
            spark, str(tmp_path / "ck_bad"),
            spark.createDataFrame([(1, -5)], "k long, v long"),
            check_constraints={"v_nonneg": "v >= 0"},
        )
    # append: violation raises, nothing committed
    v_before = t.latest_version()
    with pytest.raises(Exception, match="v_nonneg"):
        t.append(spark.createDataFrame([(11, -1)], "k long, v long"))
    assert t.latest_version() == v_before
    # NULL passes (UNKNOWN, not FALSE)
    t.append(spark.createDataFrame([(12, None)], "k long, v long"))
    assert {r["k"] for r in t.read().collect()} >= {12}
    # update: an assignment that breaks the constraint raises
    with pytest.raises(Exception, match="v_nonneg"):
        t.update(F.col("k") == 3, {"v": F.lit(-99).cast("long")})
    # merge: violating source rows raise; clean ones commit
    with pytest.raises(Exception, match="k_small"):
        t.merge(
            spark.createDataFrame([(5000, 1, None)],
                                  "k long, v long, op string"), "k"
        )
    t.merge(
        spark.createDataFrame([(13, 130, None)],
                              "k long, v long, op string"), "k"
    )
    assert {r["k"]: r["v"] for r in t.read().collect()}[13] == 130
    # overwrite: enforced too
    with pytest.raises(Exception, match="v_nonneg"):
        t.overwrite(spark.createDataFrame([(1, -1)], "k long, v long"))


def test_check_constraints_alter_lifecycle_and_batch_writer(spark, tmp_path):
    """add_check_constraint validates EXISTING data before publishing
    (violating history rejects it), drop_check_constraint removes
    enforcement, and both survive checkpoints."""
    p = str(tmp_path / "ck2")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    # existing data violates -> rejected, nothing committed
    with pytest.raises(ValueError, match="5 existing rows violate"):
        t.add_check_constraint("k_big", "k >= 5")
    assert t.snapshot().check_constraints == {}
    t.add_check_constraint("v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_check_constraint("v_nonneg", "v >= 0")
    with pytest.raises(Exception, match="v_nonneg"):
        t.append(spark.createDataFrame([(1, -1)], "k long, v long"))
    # survives checkpoints (cross CHECKPOINT_INTERVAL)
    for i in range(CHECKPOINT_INTERVAL):
        t.append(_mk(spark, 100 * (i + 1), 100 * (i + 1) + 2).coalesce(1))
    assert TxTable(spark, p).snapshot().check_constraints == {
        "v_nonneg": "v >= 0"
    }
    # drop -> writes flow again (including previously-violating rows)
    t.drop_check_constraint("v_nonneg")
    with pytest.raises(ValueError, match="no CHECK constraint"):
        t.drop_check_constraint("v_nonneg")
    t.append(spark.createDataFrame([(1, -1)], "k long, v long"))
    assert (1, -1) in {(r["k"], r["v"]) for r in t.read().collect()}


def test_optimize_where_compacts_only_overlapping_files(spark, tmp_path):
    """OPTIMIZE ... WHERE (r8): only files whose zone maps overlap the
    interval are rewritten; disjoint files survive byte-identical, the
    row set is unchanged, and files lacking stats conservatively join
    the compaction."""
    p = str(tmp_path / "ow1")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 100).coalesce(1), stats_columns=["k"]
    )
    t.append(_mk(spark, 100, 200).coalesce(1))
    t.append(_mk(spark, 200, 300).coalesce(1))
    before = dict(t.snapshot().files)
    assert len(before) == 3
    v = t.optimize(target_file_rows=1000, where=("k", 0, 150))
    after = t.snapshot()
    survivors = set(after.files) & set(before)
    # the k=200..299 file was disjoint: untouched
    assert len(survivors) == 1
    mn, mx = after.files[next(iter(survivors))]["stats"]["k"]
    assert (mn, mx) == (200, 299)
    assert t.read().count() == 300
    assert [h["operation"] for h in t.history()][v] == "OPTIMIZE"
    # interval validation reuses the read_interval contract
    with pytest.raises(ValueError, match="no zone-map stats"):
        t.optimize(where=("v", 0, 1))
    # nothing overlaps: version unchanged, no commit
    assert t.optimize(where=("k", 10_000, 20_000)) == v


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    """vacuum(dry_run=True) returns the would-be-deleted list without
    touching the filesystem; a real vacuum then removes exactly it."""
    p = str(tmp_path / "vd1")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    t.optimize(target_file_rows=1000)  # old file now unreferenced? no:
    # still referenced by v0's add — use an orphan instead
    orphan = os.path.join(p, "deadbeef.parquet")
    _mk(spark, 0, 3).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "vo")
    )
    part = next(
        f for f in os.listdir(str(tmp_path / "vo")) if f.endswith(".parquet")
    )
    os.replace(os.path.join(str(tmp_path / "vo"), part), orphan)
    would = t.vacuum(min_age_seconds=0, dry_run=True)
    assert "deadbeef.parquet" in would
    assert os.path.exists(orphan)  # nothing deleted
    gone = t.vacuum(min_age_seconds=0)
    assert gone == would
    assert not os.path.exists(orphan)


def test_appends_disjoint_edge_cases():
    """_appends_disjoint (the zone-map commutation predicate) must be
    conservative on every ambiguity: no interval, missing stats,
    one-sided stats, incomparable types -> conflict; all-NULL files
    and empty files commute; boundary overlap conflicts."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        _appends_disjoint,
    )

    def add(mn, mx, n=10, with_stats=True):
        a = {"path": "f", "numRecords": n}
        a["stats"] = {"k": [mn, mx]} if with_stats else {}
        return {"add": a}

    iv = ("k", 0, 20)
    assert not _appends_disjoint([add(5, 30)], None)          # no interval
    assert _appends_disjoint([add(100, 200)], iv)             # disjoint
    assert _appends_disjoint([add(-50, -1)], iv)              # below
    assert not _appends_disjoint([add(15, 25)], iv)           # overlap
    assert not _appends_disjoint([add(20, 30)], iv)           # boundary
    assert not _appends_disjoint([add(0, 0)], iv)             # boundary lo
    assert not _appends_disjoint([add(5, 30, with_stats=False)], iv)
    assert not _appends_disjoint([add(None, 30)], iv)         # one-sided
    assert _appends_disjoint([add(None, None)], iv)           # all-NULL col
    assert _appends_disjoint([add(15, 25, n=0)], iv)          # empty file
    assert not _appends_disjoint([add("a", "z")], iv)         # TypeError
    # mixed commit: one overlapping file poisons the whole commit
    assert not _appends_disjoint([add(100, 200), add(10, 12)], iv)
    # non-add actions are ignored
    assert _appends_disjoint(
        [{"commitInfo": {"operation": "APPEND"}}, add(100, 200)], iv
    )


# ---------------------------------------------------------------------------
# Column mapping (r8): metadata-only RENAME / DROP COLUMN
# ---------------------------------------------------------------------------


def test_rename_column_is_metadata_only(spark, tmp_path):
    p = str(tmp_path / "cm1")
    t = TxTable.create(spark, p, _mk(spark, 0, 50), stats_columns=["k", "v"])
    files_before = set(t.snapshot().files)
    t.rename_column("v", "val")
    snap = t.snapshot()
    assert set(snap.files) == files_before          # zero files touched
    assert [f.name for f in snap.schema.fields] == ["k", "val"]
    assert snap.column_mapping == {"val": "v"}      # physical name stable
    got = t.read()
    assert got.columns == ["k", "val"]
    assert _rows(got) == _rows(_mk(spark, 0, 50))
    # stats follow the rename: zone-map pruning works on the NEW name
    assert t.read_pruned("val", 10, 19).count() == 10
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("v", "x")                   # old name is gone
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("val", "k")
    # time travel reads back under the OLD logical name
    assert t.read(version=0).columns == ["k", "v"]
    ops = [h["operation"] for h in t.history()]
    assert ops == ["CREATE", "RENAME COLUMN"]


def test_rename_then_write_paths_and_checkpoint(spark, tmp_path):
    p = str(tmp_path / "cm2")
    t = TxTable.create(spark, p, _mk(spark, 0, 30), stats_columns=["k"])
    t.rename_column("v", "val")
    new = spark.range(30, 40).select(
        F.col("id").alias("k"), F.col("id").cast("long").alias("val")
    )
    t.append(new)                                   # physical files under old name
    assert t.read().count() == 40
    t.update(F.col("k") == 3, {"val": F.lit(999)})
    assert t.read().filter(F.col("k") == 3).first()["val"] == 999
    t.delete(F.col("val") == 999)
    assert t.read().count() == 39
    # enough commits to cross a checkpoint; the mapping must survive
    for i in range(CHECKPOINT_INTERVAL + 1):
        t.append(
            spark.range(100 + i, 101 + i).select(
                F.col("id").alias("k"), F.col("id").cast("long").alias("val")
            )
        )
    reloaded = TxTable(spark, p).snapshot()
    assert reloaded.column_mapping == {"val": "v"}
    assert reloaded.schema.fieldNames() == ["k", "val"]


def test_drop_column_retires_physical_name(spark, tmp_path):
    p = str(tmp_path / "cm3")
    t = TxTable.create(spark, p, _mk(spark, 0, 20), stats_columns=["k", "v"])
    t.drop_column("v")
    snap = t.snapshot()
    assert snap.schema.fieldNames() == ["k"]
    assert snap.retired_physical == ["v"]
    assert snap.stats_columns == ["k"]              # dropped from the spec
    assert t.read().columns == ["k"]
    # re-adding the same logical name maps to a FRESH physical name:
    # the old files' 'v' bytes must never resurrect under the new column
    t.append(
        spark.range(20, 25).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        ),
        merge_schema=True,
    )
    snap2 = t.snapshot()
    assert snap2.column_mapping["v"].startswith("col-")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] is None and got[20] == 7
    with pytest.raises(ValueError, match="only column"):
        tx = TxTable.create(
            spark, str(tmp_path / "cm3b"),
            spark.range(3).select(F.col("id").alias("a")),
        )
        tx.drop_column("a")


def test_rename_refused_under_check_constraint(spark, tmp_path):
    p = str(tmp_path / "cm4")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10),
        check_constraints={"v_pos": "v >= 0"},
    )
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("v", "val")
    with pytest.raises(ValueError, match="CHECK"):
        t.drop_column("v")
    t.drop_check_constraint("v_pos")
    t.rename_column("v", "val")                     # now allowed
    assert t.read().columns == ["k", "val"]


def test_change_feed_spans_rename_via_physical_identity(spark, tmp_path):
    p = str(tmp_path / "cm5")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))     # v0
    t.rename_column("v", "val")                         # v1 (no files)
    t.append(
        spark.range(10, 12).select(
            F.col("id").alias("k"), F.col("id").cast("long").alias("val")
        )
    )                                                   # v2
    # the rename alone contributes nothing; the feed shows the insert
    # under the END version's logical name
    feed = t.change_feed("k", v_from=0).collect()
    assert {r["_change_type"] for r in feed} == {"insert"}
    assert sorted(r["k"] for r in feed) == [10, 11]
    assert "val" in feed[0].asDict()
    # a window ending BEFORE the rename keeps the old logical name
    assert t.change_feed("k", v_from=0, v_to=0).count() == 0


def test_bloom_skipping_survives_rename(spark, tmp_path):
    p = str(tmp_path / "cm6")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("tag")
    ).repartition(4)
    t = TxTable.create(spark, p, base, bloom_columns=["tag"])
    t.rename_column("tag", "label")
    keep = t.bloom_keep_files("label", "42")
    assert 1 <= len(keep) < len(t.snapshot().files)
    got = t.read_point("label", "42")
    assert got.count() == 1 and got.first()["k"] == 42


def test_optimize_reclaims_dropped_column_bytes(spark, tmp_path):
    import pyarrow.parquet as pq

    p = str(tmp_path / "cm8")
    t = TxTable.create(spark, p, _mk(spark, 0, 40), stats_columns=["k"])
    t.rename_column("v", "val")
    t.drop_column("val")
    # files still physically carry 'v' (metadata-only drop)...
    snap = t.snapshot()
    assert all(
        "v" in pq.read_schema(os.path.join(p, f)).names
        for f in snap.files
    )
    # ...until OPTIMIZE rewrites through the current logical schema
    t.optimize(target_file_rows=1000)
    snap2 = t.snapshot()
    assert all(
        pq.read_schema(os.path.join(p, f)).names == ["k"]
        for f in snap2.files
    )
    assert _rows(t.read()) == [(i,) for i in range(40)]


# ---------------------------------------------------------------------------
# Protocol versioning + monotonic timestamp resolution (r8)
# ---------------------------------------------------------------------------


def _bump_protocol(p, min_reader, min_writer):
    """Append a commit whose protocol action demands newer versions —
    simulating a table written by a future library."""
    import json

    log = os.path.join(p, "_txlog")
    vs = sorted(
        int(n[:-5]) for n in os.listdir(log)
        if n.endswith(".json") and not n.endswith(".checkpoint.json")
    )
    v = vs[-1] + 1
    with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": min_reader, "minWriterVersion": min_writer,
        }}) + "\n")
        f.write(json.dumps({"commitInfo": {
            "operation": "UPGRADE PROTOCOL", "version": v,
            "timestamp": 9_999_999_999_999,
        }}) + "\n")


def test_protocol_action_written_and_version1_default(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        READER_VERSION,
        WRITER_VERSION,
    )

    p = str(tmp_path / "proto1")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    snap = t.snapshot()
    assert snap.protocol == {
        "minReaderVersion": READER_VERSION,
        "minWriterVersion": WRITER_VERSION,
    }
    # pre-protocol logs (no action) read as version-1 tables: strip the
    # protocol line from commit 0 and re-read
    import json

    f0 = os.path.join(p, "_txlog", f"{0:020d}.json")
    lines = [
        line for line in open(f0) if "protocol" not in json.loads(line)
    ]
    with open(f0, "w") as f:
        f.writelines(lines)
    assert TxTable(spark, p).snapshot().protocol["minReaderVersion"] == 1


def test_future_reader_version_refuses_reads(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        ProtocolError,
    )

    p = str(tmp_path / "proto2")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    _bump_protocol(p, min_reader=99, min_writer=99)
    with pytest.raises(ProtocolError, match="reader version 99"):
        t.read()
    with pytest.raises(ProtocolError, match="reader version 99"):
        t.snapshot()


def test_future_writer_version_refuses_writes_allows_reads(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        ProtocolError,
    )

    p = str(tmp_path / "proto3")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))
    _bump_protocol(p, min_reader=1, min_writer=99)
    assert t.read().count() == 10            # reads stay fine
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.append(_mk(spark, 10, 12))
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.delete(F.col("k") < 2)
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.rename_column("v", "val")
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.overwrite(_mk(spark, 0, 5))


def test_timestamp_travel_monotonizes_skewed_clocks(spark, tmp_path):
    import json

    p = str(tmp_path / "proto4")
    t = TxTable.create(spark, p, _mk(spark, 0, 5))     # v0
    t.append(_mk(spark, 5, 10))                        # v1
    t.append(_mk(spark, 10, 15))                       # v2
    log = os.path.join(p, "_txlog")

    def set_ts(v, ts):
        f = os.path.join(log, f"{v:020d}.json")
        lines = []
        for line in open(f):
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
            lines.append(json.dumps(a, sort_keys=True) + "\n")
        with open(f, "w") as fh:
            fh.writelines(lines)

    # v1's writer had a FAST clock, v2's a slow one: raw stamps are
    # 1000, 5000, 2000 — non-monotonic
    set_ts(0, 1000)
    set_ts(1, 5000)
    set_ts(2, 2000)
    # effective stamps monotonize to 1000, 5000, 5000: asking for
    # t=3000 must resolve to v0 (the last state fully visible by then),
    # never to the skew-stamped v2
    assert t.version_as_of(3000) == 0
    assert t.version_as_of(5000) == 2      # ties resolve to the latest
    assert t.version_as_of(1000) == 0
    # streaming start rule under the same skew
    assert t.version_at_or_after(3000) == 1
    assert t.version_at_or_after(6000) == 3  # nothing yet: latest+1


# ---------------------------------------------------------------------------
# Generated columns (r8)
# ---------------------------------------------------------------------------


def _gen_table(spark, tmp_path, name):
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).cast("long").alias("v"),
    )
    return TxTable.create(
        spark, str(tmp_path / name), df,
        stats_columns=["k", "bucket"],
        generated_columns={"bucket": "k div 10"},
    )


def test_generated_column_computed_on_create_and_append(spark, tmp_path):
    t = _gen_table(spark, tmp_path, "g1")
    got = {r["k"]: r["bucket"] for r in t.read().collect()}
    assert got[0] == 0 and got[15] == 1 and got[29] == 2
    assert t.read().columns == ["k", "v", "bucket"]
    # append WITHOUT the column: computed
    t.append(spark.range(30, 32).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")))
    assert {r["bucket"] for r in t.read().filter(F.col("k") >= 30).collect()} == {3}
    # append WITH a correct value: verified, passes
    t.append(spark.createDataFrame([(40, 0, 4)], "k long, v long, bucket long"))
    assert t.read().count() == 33
    # append WITH a wrong value: write fails loudly
    import py4j.protocol

    with pytest.raises(Exception, match="generated column"):
        t.append(spark.createDataFrame(
            [(50, 0, 99)], "k long, v long, bucket long"))
    assert t.read().count() == 33  # nothing committed


def test_generated_column_zone_maps_prune_derived_predicates(spark, tmp_path):
    t = _gen_table(spark, tmp_path, "g2")
    for lo in (100, 200, 300):
        t.append(spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")))
    # bucket carries zone maps: a derived-range read opens only the
    # files whose bucket interval overlaps — the partition-pruning use
    # case without hive partitioning
    snap = t.snapshot()
    pruned = t.read_pruned("bucket", 10, 10)
    assert pruned.count() == 10
    keep = [
        p for p, m in snap.files.items()
        if m["stats"].get("bucket") and not (
            m["stats"]["bucket"][1] < 10 or m["stats"]["bucket"][0] > 10
        )
    ]
    assert len(keep) < len(snap.files)


def test_generated_column_recomputed_by_update_and_merge(spark, tmp_path):
    t = _gen_table(spark, tmp_path, "g3")
    # UPDATE moves k; bucket recomputes (user does not touch it)
    t.update(F.col("k") == 5, {"k": F.lit(25)})
    got = {r["k"]: r["bucket"] for r in t.read().collect()}
    assert 5 not in got and got[25] == 2
    # MERGE upserts recompute too
    src = spark.createDataFrame(
        [(100, 1, 0, "U")], "k long, v long, bucket long, op string"
    )
    t.merge(src, "k")
    assert t.read().filter(F.col("k") == 100).first()["bucket"] == 10
    # history stays consistent: every row satisfies the definition
    bad = t.read().filter(~F.col("bucket").eqNullSafe(F.expr("k div 10")))
    assert bad.count() == 0


def test_generated_column_blocks_rename_drop_and_batch_writer(spark, tmp_path):
    t = _gen_table(spark, tmp_path, "g4")
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("k", "key")         # bucket is defined over k
    with pytest.raises(ValueError, match="generated"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("bucket", "b2")     # the generated col itself
    t.drop_column("v")                       # unrelated col still drops
    assert t.read().columns == ["k", "bucket"]


# ---------------------------------------------------------------------------
# DESCRIBE DETAIL + symlink manifest + startingVersion="latest" (r8)
# ---------------------------------------------------------------------------


def test_detail_reports_table_facts(spark, tmp_path):
    p = str(tmp_path / "det1")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 50), stats_columns=["k"],
        check_constraints={"k_pos": "k >= 0"},
    )
    t.append(_mk(spark, 50, 60))
    t.delete(F.col("k") >= 55, strategy="mor")
    d = t.detail()
    assert d["format"] == "txtable/parquet"
    assert d["version"] == 2
    assert d["numFiles"] == len(t.snapshot().files)
    assert d["numRecords"] == 55            # DV'd rows excluded
    assert d["numDeletionVectors"] >= 1
    assert d["minReaderVersion"] == 1 and d["minWriterVersion"] == 1
    assert d["checkConstraints"] == {"k_pos": "k >= 0"}
    assert d["statsColumns"] == ["k"]
    assert d["sizeInBytes"] > 0
    assert d["createdAt"] <= d["lastModified"]


def test_symlink_manifest_cross_engine_read_parity(spark, tmp_path):
    import duckdb

    p = str(tmp_path / "man1")
    t = TxTable.create(spark, p, _mk(spark, 0, 40), stats_columns=["k"])
    t.append(_mk(spark, 40, 50))
    t.delete(F.col("k") >= 45, strategy="cow")   # COW: no DVs remain
    mf = t.generate_symlink_manifest()
    files = [line.strip() for line in open(mf) if line.strip()]
    assert files and all(f.endswith(".parquet") for f in files)
    # an external engine reading ONLY the manifest must see exactly
    # the snapshot
    con = duckdb.connect()
    got = con.execute(
        "SELECT k, v FROM read_parquet(?) ORDER BY k", [files]
    ).fetchall()
    want = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == want
    # regeneration replaces atomically after new commits
    t.append(_mk(spark, 100, 101))
    t.generate_symlink_manifest()
    files2 = [line.strip() for line in open(mf) if line.strip()]
    assert len(files2) > len(files)


def test_symlink_manifest_refuses_dv_and_mapping(spark, tmp_path):
    p = str(tmp_path / "man2")
    t = TxTable.create(spark, p, _mk(spark, 0, 40), stats_columns=["k"])
    t.delete(F.col("k") % 7 == 0, strategy="mor")
    with pytest.raises(ValueError, match="deletion vectors"):
        t.generate_symlink_manifest()
    # purge the DV via OPTIMIZE -> manifest works again
    t.optimize(target_file_rows=1000)
    t.generate_symlink_manifest()
    t.rename_column("v", "val")
    with pytest.raises(ValueError, match="column mapping"):
        t.generate_symlink_manifest()


def test_restore_to_timestamp_uses_monotonized_clock(spark, tmp_path):
    import json

    p = str(tmp_path / "rts1")
    t = TxTable.create(spark, p, _mk(spark, 0, 10))    # v0
    t.append(_mk(spark, 10, 20))                       # v1
    t.append(_mk(spark, 20, 30))                       # v2
    log = os.path.join(p, "_txlog")

    def set_ts(v, ts):
        f = os.path.join(log, f"{v:020d}.json")
        lines = []
        for line in open(f):
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
            lines.append(json.dumps(a, sort_keys=True) + "\n")
        with open(f, "w") as fh:
            fh.writelines(lines)

    set_ts(0, 1000)
    set_ts(1, 5000)
    set_ts(2, 2000)   # skewed: earlier stamp than v1
    # t=3000 resolves to v0 under the monotonized clock (v2's raw
    # stamp would wrongly qualify), so the restore lands on 10 rows
    v = t.restore_to_timestamp(3000)
    assert t.read().count() == 10
    ops = [h["operation"] for h in t.history()]
    assert ops[-1] == "RESTORE" and v == 3


def test_detail_reflects_mapping_and_generated(spark, tmp_path):
    p = str(tmp_path / "det2")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 10),
        generated_columns={"bucket": "k div 5"},
    )
    t.rename_column("v", "val")
    d = t.detail()
    assert d["columnMapping"] == {"val": "v"}
    assert d["generatedColumns"] == {"bucket": "k div 5"}
    assert d["numRecords"] == 10 and d["numDeletionVectors"] == 0


def test_optimize_where_honors_protocol_gate(spark, tmp_path):
    """ADVICE r9: the where-filtered snapshot copy must carry the
    table's protocol so OPTIMIZE ... WHERE can't bypass the
    minWriterVersion gate plain OPTIMIZE honors."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        ProtocolError,
    )

    p = str(tmp_path / "proto_optw")
    t = TxTable.create(spark, p, _mk(spark, 0, 20), stats_columns=["k"])
    t.append(_mk(spark, 20, 40))
    _bump_protocol(p, min_reader=1, min_writer=99)
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.optimize(where=("k", 0, 5))
    with pytest.raises(ProtocolError, match="writer version 99"):
        t.optimize()


def test_change_feed_drop_readd_no_duplicate_columns(spark, tmp_path):
    """ADVICE r9: a feed window spanning DROP COLUMN v + re-adding
    logical v must not emit two 'v' output columns — the s0-era
    physical disambiguates to 'v__dropped'."""
    p = str(tmp_path / "cdf_dropreadd")
    t = TxTable.create(spark, p, _mk(spark, 0, 3), stats_columns=["k"])
    t.drop_column("v")
    t.append(
        spark.range(10, 13).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        ),
        merge_schema=True,
    )
    feed = t.change_feed("k", 0)
    assert len(feed.columns) == len(set(feed.columns)), feed.columns
    assert sorted(feed.columns) == ["_change_type", "k", "v", "v__dropped"]
    rows = {(r["k"], r["_change_type"]): r for r in feed.collect()}
    # the appended rows surface as inserts with the NEW column set
    assert rows[(10, "insert")]["v"] == 7
    assert rows[(10, "insert")]["v__dropped"] is None


# ---------------------------------------------------------------------------
# Shallow CLONE (r9)
# ---------------------------------------------------------------------------


def test_clone_is_metadata_only_and_reads_identically(spark, tmp_path):
    src = str(tmp_path / "clsrc")
    t = TxTable.create(spark, src, _mk(spark, 0, 30), stats_columns=["k"])
    t.append(_mk(spark, 30, 50))
    c = t.clone(str(tmp_path / "clone1"))
    assert _rows(c.read()) == _rows(t.read())
    # zero data copied: the clone directory holds only the log
    local = [n for n in os.listdir(c.path) if n.endswith(".parquet")]
    assert local == []
    # history starts fresh at version 0 with a CLONE commit
    h = c.history()
    assert len(h) == 1 and h[0]["operation"] == "CLONE"
    assert h[0]["sourceVersion"] == t.latest_version()
    # stats survive: zone-map pruning works on the clone
    assert len(c.read_pruned("k", 0, 5).inputFiles()) < len(c.read().inputFiles())


def test_clone_diverges_without_touching_source(spark, tmp_path):
    src = str(tmp_path / "clsrc2")
    t = TxTable.create(spark, src, _mk(spark, 0, 20), stats_columns=["k"])
    c = t.clone(str(tmp_path / "clone2"))
    # clone-side append + COW delete: local files, source untouched
    c.append(_mk(spark, 100, 110))
    c.delete(F.col("k") < 5)
    assert c.read().count() == 25
    assert t.read().count() == 20
    # source-side delete after the clone: clone still sees the old rows
    t.delete(F.col("k") >= 10)
    assert t.read().count() == 10
    assert c.read().count() == 25
    # clone-side MOR delete: sidecar is LOCAL, shared parquet untouched
    v = c.delete(F.col("k") == 7, strategy="mor")
    assert c.read().count() == 24
    dvs = [m["dv"] for m in c.snapshot().files.values() if m.get("dv")]
    assert dvs and all(not os.path.isabs(d) for d in dvs)
    assert t.snapshot(0).version == 0 and v > 0


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    src = str(tmp_path / "clsrc3")
    t = TxTable.create(spark, src, _mk(spark, 0, 20))
    c = t.clone(str(tmp_path / "clone3"))
    # drop every external reference from the clone's live set
    c.overwrite(_mk(spark, 0, 5))
    gone = c.vacuum(min_age_seconds=0.0)
    # nothing external reclaimed; source still fully readable
    assert all(not os.path.isabs(g) for g in gone)
    assert t.read().count() == 20
    assert c.read().count() == 5


def test_clone_carries_metadata_and_protocol(spark, tmp_path):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        ProtocolError,
    )

    src = str(tmp_path / "clsrc4")
    t = TxTable.create(
        spark, src, _mk(spark, 0, 10),
        stats_columns=["k", "v"],
        check_constraints={"v_ok": "v >= 0"},
    )
    c = t.clone(str(tmp_path / "clone4"))
    assert "v_ok" in c.snapshot().check_constraints   # constraint carried
    with pytest.raises(Exception, match="CHECK|v_ok"):
        c.append(spark.range(1).select(
            F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")))
    # column mapping carried: rename on a constraint-free source
    src2 = str(tmp_path / "clsrc4b")
    t2 = TxTable.create(spark, src2, _mk(spark, 0, 10), stats_columns=["k"])
    t2.rename_column("v", "val")
    c2 = t2.clone(str(tmp_path / "clone4b"))
    assert c2.read().columns == ["k", "val"]          # mapping carried
    # clone at an explicit earlier version (pre-rename names)
    c0 = t2.clone(str(tmp_path / "clone4v0"), version=0)
    assert c0.read().columns == ["k", "v"]
    # protocol requirement survives: writer-gated clone refuses writes
    _bump_protocol(src, min_reader=1, min_writer=99)
    c99 = TxTable(spark, src).clone(str(tmp_path / "clone4p"))
    assert c99.read().count() == 10
    with pytest.raises(ProtocolError, match="writer version 99"):
        c99.append(_mk(spark, 10, 12))
    # existing target refused
    with pytest.raises(FileExistsError):
        t.clone(str(tmp_path / "clone4"))


def test_clone_inherits_source_log_store(spark, tmp_path):
    """r10 (r9 advisory): clone() defaults to the SOURCE's LogStore so
    a non-default store's atomicity guarantees carry to the clone; an
    explicit override still wins."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        HardLinkLogStore,
    )

    class CountingStore(HardLinkLogStore):
        def __init__(self):
            self.puts = 0

        def put_if_absent(self, content: bytes, dst: str) -> bool:
            self.puts += 1
            return super().put_if_absent(content, dst)

    store = CountingStore()
    src = str(tmp_path / "clsrc6")
    t = TxTable.create(
        spark, src, _mk(spark, 0, 10).coalesce(1), log_store=store
    )
    before = store.puts
    c = t.clone(str(tmp_path / "clone6"))
    assert c.log_store is store and store.puts == before + 1
    c.append(_mk(spark, 10, 15).coalesce(1))
    assert store.puts == before + 2
    # explicit override still wins
    other = CountingStore()
    c2 = t.clone(str(tmp_path / "clone6b"), log_store=other)
    assert c2.log_store is other and other.puts == 1


def test_deep_clone_survives_source_reclaim(spark, tmp_path):
    """r10 (VERDICT r9 #5): deep clone byte-copies every referenced
    file into the target with RELATIVE add actions, so it keeps
    reading after the source's expire_log + vacuum reclaims the
    cloned-from era — exactly where a shallow clone breaks."""
    src = str(tmp_path / "dcsrc")
    t = TxTable.create(spark, src, _mk(spark, 0, 20).coalesce(1))
    sh = t.clone(str(tmp_path / "dc_sh"))
    dp = t.clone(str(tmp_path / "dc_dp"), deep=True)
    # deep clone: self-contained relative files, rows identical
    assert _rows(dp.read()) == _rows(t.read())
    assert all(not os.path.isabs(f) for f in dp.snapshot().files)
    assert [n for n in os.listdir(dp.path) if n.endswith(".parquet")]
    assert dp.history()[0]["cloneType"] == "deep"
    assert sh.history()[0]["cloneType"] == "shallow"
    # source moves on and reclaims the cloned-from era
    for i in range(CHECKPOINT_INTERVAL + 1):
        t.overwrite(_mk(spark, 100 + i, 105 + i).coalesce(1))
    t.expire_log()
    t.vacuum(min_age_seconds=0)
    assert _rows(dp.read()) == [(k, k) for k in range(20)]
    with pytest.raises(Exception):
        sh.read().collect()  # shallow references are gone


def test_deep_clone_lost_race_leaves_no_orphans(spark, tmp_path, monkeypatch):
    """r11 (ADVICE r10): a deep clone that loses the create race (or
    dies mid-copy) must not leave stray data files loose in the target
    root for a later create to inherit. Copies are staged in a hidden
    dir and removed when the commit loses."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources import (
        txtable as txt,
    )

    src = str(tmp_path / "dcr_src")
    t = TxTable.create(spark, src, _mk(spark, 0, 10).coalesce(1))
    target = str(tmp_path / "dcr_tgt")
    monkeypatch.setattr(
        txt.TxTable, "_try_commit", lambda self, v, actions: False
    )
    with pytest.raises(txt.ConcurrentWriteError):
        t.clone(target, deep=True)
    monkeypatch.undo()
    leftovers = [
        n for n in os.listdir(target) if not n.startswith(".clone-staging")
    ]
    assert leftovers in ([], ["_tx_log"]), leftovers
    assert not [n for n in os.listdir(target) if n.endswith(".parquet")]


def test_deep_clone_carries_dv_sidecar(spark, tmp_path):
    """Deep-cloning a MOR table copies the DV sidecar too and the
    local reference applies on read."""
    src = str(tmp_path / "dcsrc2")
    t = TxTable.create(
        spark, src, _mk(spark, 0, 15).coalesce(1), stats_columns=["k"]
    )
    t.delete(F.col("k") < 4, strategy="mor")
    dp = t.clone(str(tmp_path / "dc_dv"), deep=True)
    assert sorted(r["k"] for r in dp.read().collect()) == list(range(4, 15))
    metas = list(dp.snapshot().files.values())
    dvs = [m["dv"] for m in metas if m.get("dv")]
    assert dvs and all(not os.path.isabs(d) for d in dvs)
    assert all(os.path.exists(os.path.join(dp.path, d)) for d in dvs)
    # divergence still local-only: deleting on the clone leaves source
    dp.delete(F.col("k") >= 10)
    assert t.read().count() == 11


def test_clone_at_timestamp_matches_version_clone(spark, tmp_path):
    """clone(as_of_timestamp_ms=...) resolves through the monotonized
    version_as_of rule and equals the explicit version clone."""
    src = str(tmp_path / "tcsrc")
    t = TxTable.create(spark, src, _mk(spark, 0, 8).coalesce(1))
    t.append(_mk(spark, 8, 12).coalesce(1))
    hist = {h["version"]: h["timestamp"] for h in t.history()}
    c_ts = t.clone(
        str(tmp_path / "tc_a"), as_of_timestamp_ms=hist[0]
    )
    c_v = t.clone(str(tmp_path / "tc_b"), version=0)
    assert _rows(c_ts.read()) == _rows(c_v.read())
    assert c_ts.history()[0]["sourceVersion"] == 0
    with pytest.raises(ValueError, match="not both"):
        t.clone(str(tmp_path / "tc_c"), version=1, as_of_timestamp_ms=hist[0])
