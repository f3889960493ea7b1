"""Streaming SOURCE over the transactional table format
(sources/txstream.py): versions-as-offsets, per-added-file partitions,
checkpointed incremental drains, non-append rejection/skip, and the
end-to-end table→table exactly-once pipeline with the format's sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryException

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
    TxTableStreamSource,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
    CHECKPOINT_INTERVAL,
    TxTable,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(TxTableStreamSource)


def _drain(spark, path, ckpt, **opts):
    """AvailableNow drain into a driver-side list via foreachBatch
    (the memory sink cannot recover from a checkpoint); returns the
    rows THIS drain delivered."""
    rows: list = []
    reader = spark.readStream.format("txtable_stream")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(path)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .start()
    )
    q.awaitTermination()
    return rows


def test_stream_reads_appends_incrementally(spark, tmp_path):
    p = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable.create(spark, p, _mk(spark, 0, 50))
    t.append(_mk(spark, 50, 80))
    got = _drain(spark, p, ckpt)
    assert sorted((r["k"], r["v"]) for r in got) == [
        (k, k * 10) for k in range(80)
    ]
    # second drain against the SAME checkpoint: ONLY the new commit
    t.append(_mk(spark, 80, 90))
    got = _drain(spark, p, ckpt)
    assert sorted(r["k"] for r in got) == list(range(80, 90))


def test_non_append_commit_raises_without_ignore_changes(spark, tmp_path):
    p = str(tmp_path / "src2")
    t = TxTable.create(spark, p, _mk(spark, 0, 40).coalesce(1))
    t.delete(F.col("k") < 10)
    with pytest.raises(StreamingQueryException, match="DELETE"):
        _drain(spark, p, str(tmp_path / "c2"))


def test_ignore_changes_skips_rewrites(spark, tmp_path):
    """ignoreChanges: DELETE/MERGE commits are skipped whole (their
    adds are rewrites of already-streamed rows); later appends still
    flow. A MOR delete adds no data, so it contributes nothing."""
    p = str(tmp_path / "src3")
    t = TxTable.create(spark, p, _mk(spark, 0, 40).coalesce(1))
    t.delete(F.col("k") < 10)  # COW rewrite
    t.delete(F.col("k") >= 35, strategy="mor")  # DV re-point
    t.append(_mk(spark, 100, 110))
    got = _drain(spark, p, str(tmp_path / "c3"), ignoreChanges="true")
    ks = sorted(r["k"] for r in got)
    # initial snapshot's file streamed pre-delete rows; the rewrite
    # commit was skipped, the append flowed
    assert ks == list(range(40)) + list(range(100, 110))


def test_starting_version_and_schema_evolution(spark, tmp_path):
    """startingVersion skips history; a stream over an evolved table
    NULL-fills pre-evolution files to the latest schema."""
    p = str(tmp_path / "src4")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    t.append(_mk(spark, 10, 20))
    wide = spark.range(20, 25).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
        F.lit(7).cast("long").alias("extra"),
    )
    t.append(wide, merge_schema=True)
    got = _drain(spark, p, str(tmp_path / "c4"))
    rows = {r["k"]: r for r in got}
    assert set(rows) == set(range(25))
    assert rows[5]["extra"] is None and rows[22]["extra"] == 7
    got2 = _drain(spark, p, str(tmp_path / "c4b"), startingVersion="1")
    assert sorted(r["k"] for r in got2) == list(range(10, 25))


def test_table_to_table_pipeline_exactly_once(spark, tmp_path):
    """The full incremental loop: stream table A through a transform
    into table B with the format's exactly-once sink; a second drain
    moves only the delta, and B's history shows epoch commits."""
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    ckpt = str(tmp_path / "ab_ckpt")
    a = TxTable.create(spark, a_path, _mk(spark, 0, 30))
    b = TxTable.create(
        spark,
        b_path,
        spark.createDataFrame([], "k long, v2 long"),
    )

    def pipe():
        stream = spark.readStream.format("txtable_stream").load(a_path)
        out = stream.select("k", (F.col("v") * 2).alias("v2"))
        b.write_stream(out, ckpt, app_id="a_to_b")

    pipe()
    assert b.read().count() == 30
    a.append(_mk(spark, 30, 45))
    pipe()
    got = sorted((r["k"], r["v2"]) for r in b.read().collect())
    assert got == [(k, k * 20) for k in range(45)]
    ops = [h["operation"] for h in b.history()]
    assert ops.count("STREAM_APPEND") >= 2
    # replaying the same drained state is a no-op (exactly-once)
    pipe()
    assert b.read().count() == 45


def test_change_feed_stream_propagates_dml(spark, tmp_path):
    """readChangeFeed=true: DELETE/UPDATE/MERGE commits arrive as
    row-level change events with _commit_version instead of raising;
    appends arrive as inserts; OPTIMIZE contributes nothing."""
    p = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "cdc_ckpt")
    t = TxTable.create(spark, p, _mk(spark, 0, 20).coalesce(1))
    t.delete(F.col("k") < 3, strategy="mor")             # v1: deletes
    t.update(F.col("k") == 5, {"v": F.lit(999).cast("long")})  # v2: update
    t.optimize(target_file_rows=1000)                    # v3: silent
    t.append(_mk(spark, 100, 103))                       # v4: inserts

    def drain(ck):
        rows: list = []
        q = (
            spark.readStream.format("txtable_stream")
            .option("readChangeFeed", "true")
            .option("key", "k")
            .load(p)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .foreachBatch(lambda df, _e: rows.extend(df.collect()))
            .start()
        )
        q.awaitTermination()
        return rows

    got = drain(ckpt)
    ev = {(r["k"], r["_change_type"]): r for r in got}
    # v0 snapshot arrives as inserts
    assert sum(1 for k, c in ev if c == "insert" and k < 100) == 20
    assert {k for k, c in ev if c == "delete"} == {0, 1, 2}
    assert ev[(5, "update_preimage")]["v"] == 50
    assert ev[(5, "update_postimage")]["v"] == 999
    assert ev[(5, "update_postimage")]["_commit_version"] == 2
    assert {k for k, c in ev if c == "insert" and k >= 100} == {100, 101, 102}
    assert not any(r["_commit_version"] == 3 for r in got)  # OPTIMIZE silent
    # incremental: a second drain sees only new commits
    t.delete(F.col("k") == 10)
    got2 = drain(ckpt)
    assert {(r["k"], r["_change_type"]) for r in got2} == {(10, "delete")}


def _cdc_drain(spark, path, ckpt, **opts):
    rows: list = []
    reader = (
        spark.readStream.format("txtable_stream")
        .option("readChangeFeed", "true")
        .option("key", "k")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(path)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, _e: rows.extend(df.collect()))
        .start()
    )
    q.awaitTermination()
    return rows


def _events(rows):
    return sorted(
        (r["k"], r["_change_type"], r["v"], r["_commit_version"])
        for r in rows
    )


def _run_dml(spark, t):
    """One of each DML against a 0..19 table; the expected CDC events
    are identical regardless of HOW the reader decomposes them."""
    t.delete(F.col("k") < 3, strategy="mor")                       # v1
    t.update(F.col("k") == 5, {"v": F.lit(999).cast("long")})      # v2
    t.update(F.col("k") == 6, {"v": F.lit(666).cast("long")},
             strategy="mor")                                       # v3
    src = spark.createDataFrame(
        [(7, 777, None), (8, 80, "D"), (200, 2000, None)],
        "k long, v long, op string",
    )
    t.merge(src, "k")                                              # v4
    t.delete(F.col("k") == 9)                                      # v5 (cow)


_EXPECTED_DML_EVENTS = sorted(
    [(k, "insert", k * 10, 0) for k in range(20)]
    + [(k, "delete", k * 10, 1) for k in (0, 1, 2)]
    + [(5, "update_preimage", 50, 2), (5, "update_postimage", 999, 2)]
    + [(6, "update_preimage", 60, 3), (6, "update_postimage", 666, 3)]
    + [(7, "update_preimage", 70, 4), (7, "update_postimage", 777, 4),
       (8, "delete", 80, 4), (200, "insert", 2000, 4)]
    + [(9, "delete", 90, 5)]
)


def test_cdc_fallback_diff_matches_expected(spark, tmp_path):
    """Read-time diff path (table created WITHOUT change_data_feed):
    MOR deletes/updates, COW update/delete and MERGE all classify."""
    p = str(tmp_path / "nf")
    t = TxTable.create(spark, p, _mk(spark, 0, 20).coalesce(1))
    _run_dml(spark, t)
    got = _cdc_drain(spark, p, str(tmp_path / "nf_ck"))
    assert _events(got) == _EXPECTED_DML_EVENTS


def test_cdc_writer_change_files_match_fallback(spark, tmp_path):
    """A change_data_feed=True table records its change rows at
    commit time; the stream delivers the SAME events as the
    read-time diff, from _change_data files alone."""
    import json
    import os as _os

    p = str(tmp_path / "wf")
    t = TxTable.create(
        spark, p, _mk(spark, 0, 20).coalesce(1), change_data_feed=True
    )
    _run_dml(spark, t)
    got = _cdc_drain(spark, p, str(tmp_path / "wf_ck"))
    assert _events(got) == _EXPECTED_DML_EVENTS
    # every DML commit carries cdc actions + the commitInfo flag
    log = _os.path.join(p, "_txlog")
    for v in (1, 2, 3, 4, 5):
        name = [n for n in sorted(_os.listdir(log)) if int(n.split(".")[0]) == v][0]
        actions = [json.loads(l) for l in open(_os.path.join(log, name))]
        info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
        assert info["cdc"] is True
        assert any("cdc" in a for a in actions), f"v{v} has no cdc files"
    assert _os.path.isdir(_os.path.join(p, "_change_data"))


def test_cdc_partition_decomposition(spark, tmp_path):
    """The CDC planner distributes a commit instead of funnelling it
    through one task: writer-CDC commits get one partition per change
    file; a pure-MOR delete gets one per masked file; a multi-file
    COW MERGE under a small cdcSliceRows gets one per key-hash
    slice — and the slices reproduce the single-partition result."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableChangeFeedReader,
        _CdcDvDeltaPartition,
        _CdcFilePartition,
        _CdcSlicePartition,
    )

    p = str(tmp_path / "parts")
    # 4 data files so the DML touches several
    t = TxTable.create(spark, p, _mk(spark, 0, 40).repartition(4))
    t.delete(F.col("k") % 10 == 0, strategy="mor")                 # v1
    src = spark.createDataFrame(
        [(int(k), int(k) * 10 + 1, None) for k in range(1, 40, 2)],
        "k long, v long, op string",
    )
    t.merge(src, "k")                                              # v2

    def reader(**extra):
        opts = {"path": p, "key": "k", "readchangefeed": "true", **extra}
        schema = TxTableStreamSource(opts).schema()
        return TxTableChangeFeedReader(schema, opts)

    r = reader()
    mor = r.partitions({"version": 0}, {"version": 1})
    assert len(mor) >= 2  # one per file that gained DV positions
    assert all(isinstance(x, _CdcDvDeltaPartition) for x in mor)

    sliced = reader(cdcSliceRows="10")
    merge_parts = sliced.partitions({"version": 1}, {"version": 2})
    assert len(merge_parts) > 1, "multi-file MERGE must not be one task"
    assert all(isinstance(x, _CdcSlicePartition) for x in merge_parts)
    rows_sliced = [
        row
        for part in merge_parts
        for b in sliced.read(part)
        for row in b.to_pylist()
    ]
    single = reader().partitions({"version": 1}, {"version": 2})
    rows_single = [
        row for part in single for b in r.read(part) for row in b.to_pylist()
    ]
    key = lambda d: (d["k"], d["_change_type"])
    assert sorted(rows_sliced, key=key) == sorted(rows_single, key=key)
    assert {d["_change_type"] for d in rows_sliced} == {
        "update_preimage", "update_postimage",
    }

    # writer-CDC table: the same MERGE plans as per-change-file reads
    p2 = str(tmp_path / "parts_w")
    t2 = TxTable.create(
        spark, p2, _mk(spark, 0, 40).repartition(4), change_data_feed=True
    )
    t2.merge(src.repartition(4), "k")
    r2_opts = {"path": p2, "key": "k", "readchangefeed": "true"}
    r2 = TxTableChangeFeedReader(
        TxTableStreamSource(r2_opts).schema(), r2_opts
    )
    wparts = r2.partitions({"version": 0}, {"version": 1})
    assert all(isinstance(x, _CdcFilePartition) for x in wparts)
    assert len(wparts) >= 1


def test_cdc_slice_rows_option_end_to_end(spark, tmp_path):
    """cdcSliceRows exercised through a real streaming query."""
    p = str(tmp_path / "sl")
    t = TxTable.create(spark, p, _mk(spark, 0, 40).repartition(4))
    t.update(F.col("k") % 3 == 0, {"v": (F.col("v") + 1).cast("long")})
    got = _cdc_drain(spark, p, str(tmp_path / "sl_ck"), cdcSliceRows="5")
    ev = {(r["k"], r["_change_type"]) for r in got if r["_commit_version"] == 1}
    assert ev == {
        (k, c)
        for k in range(0, 40, 3)
        for c in ("update_preimage", "update_postimage")
    }


def test_cdc_adaptive_slice_count_and_amplification_warning(spark, tmp_path):
    """The slice fallback picks n_slices from the commit's changed-row
    ESTIMATE (log stats: live rows of removed+added files, dv deltas)
    — not a static partition count — and warns when the resulting
    read amplification (each slice re-scans the commit) exceeds the
    ~4x threshold where writer-side CDC would be cheaper."""
    import warnings

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableChangeFeedReader,
        TxTableStreamSource,
    )

    p = str(tmp_path / "ad")
    t = TxTable.create(spark, p, _mk(spark, 0, 60).repartition(4))
    t.update(F.col("k") >= 0, {"v": (F.col("v") + 1).cast("long")})  # ~120 est

    def plan(slice_rows):
        opts = {"path": p, "key": "k", "readchangefeed": "true",
                "cdcslicerows": str(slice_rows)}
        r = TxTableChangeFeedReader(TxTableStreamSource(opts).schema(), opts)
        return [q for q in r.partitions({"version": 0}, {"version": 1})
                if type(q).__name__ == "_CdcSlicePartition"]

    # estimate ~120 rows (60 removed-live + 60 added-live):
    # slice_rows=50 -> ceil(120/50)=3 slices, under the warn threshold
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning would fail
        parts = plan(50)
    assert len(parts) == 3 and all(q.n_slices == 3 for q in parts)
    # big commit vs small slice budget: amplification warning fires
    with pytest.warns(UserWarning, match="read amplification"):
        parts = plan(10)
    assert len(parts) == 12
    # one slice: no warning, single Arrow-join task
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        parts = plan(1_000_000)
    assert len(parts) == 1


def test_cdc_replay_reconstructs_table(spark, tmp_path):
    """Replayability invariant over random DML histories: applying the
    change feed's events, commit by commit, to an empty state must
    reproduce EXACTLY the table's final content — for writer-CDC and
    diff-based tables alike, with hash-slicing forced (cdcSliceRows=7)
    so every partition kind participates. Pre-images and deletes are
    additionally checked against the replayed state, so a misordered,
    duplicated or misclassified event cannot slip through."""
    import random

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableChangeFeedReader,
    )

    def mk(lo, hi):
        return _mk(spark, lo, hi)

    for seed, cdf in ((7, False), (11, True)):
        rng = random.Random(seed)
        p = str(tmp_path / f"replay_{seed}_{int(cdf)}")
        t = TxTable.create(
            spark, p, mk(0, 30).repartition(3), change_data_feed=cdf
        )
        hi = 30
        for step in range(7):
            op = rng.choice(
                ["append", "delete", "update", "merge", "optimize", "restore"]
            )
            strat = rng.choice(["cow", "mor", "auto"])
            if op == "append":
                t.append(mk(hi, hi + rng.randrange(1, 8)))
                hi += 8
            elif op == "delete":
                t.delete(F.col("k") % rng.randrange(3, 9) == 1, strategy=strat)
            elif op == "update":
                t.update(
                    F.col("k") % rng.randrange(3, 9) == 2,
                    {"v": (F.col("v") + 1).cast("long")},
                    strategy=strat,
                )
            elif op == "merge":
                ks = rng.sample(range(hi + 20), rng.randrange(2, 7))
                src = spark.createDataFrame(
                    [
                        (k, k * 7, "D" if rng.random() < 0.3 else None)
                        for k in ks
                    ],
                    "k long, v long, op string",
                )
                t.merge(src, "k")
            elif op == "optimize":
                t.optimize(target_file_rows=rng.choice([10, 1000]))
            else:
                t.restore(rng.randrange(0, t.latest_version() + 1))

        opts = {
            "path": p, "key": "k", "readchangefeed": "true",
            "cdcslicerows": "7",
        }
        r = TxTableChangeFeedReader(
            TxTableStreamSource(opts).schema(), opts
        )
        parts = r.partitions(
            {"version": -1}, {"version": t.latest_version()}
        )
        events = [
            row for part in parts for b in r.read(part)
            for row in b.to_pylist()
        ]
        state: dict = {}
        by_version: dict[int, list] = {}
        for ev in events:
            by_version.setdefault(ev["_commit_version"], []).append(ev)
        for v in sorted(by_version):
            evs = by_version[v]
            # within a commit: verify old-side against pre-commit state,
            # then apply the new side
            for ev in evs:
                if ev["_change_type"] == "delete":
                    assert state[ev["k"]] == ev["v"], (seed, v, ev)
                elif ev["_change_type"] == "update_preimage":
                    assert state[ev["k"]] == ev["v"], (seed, v, ev)
                elif ev["_change_type"] == "insert":
                    assert ev["k"] not in state, (seed, v, ev)
            for ev in evs:
                if ev["_change_type"] == "delete":
                    state.pop(ev["k"])
                elif ev["_change_type"] in ("insert", "update_postimage"):
                    state[ev["k"]] = ev["v"]
        actual = {row["k"]: row["v"] for row in t.read().collect()}
        assert state == actual, f"seed {seed} cdf {cdf}"


def test_rate_limit_and_starting_timestamp(spark, tmp_path):
    """maxVersionsPerTrigger bounds each planned micro-batch to N
    commits (backlogs drain as bounded batches, not one giant one);
    startingTimestamp resolves to the earliest commit at-or-after the
    given epoch-ms, mutually exclusive with startingVersion."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableStreamReader,
    )

    p = str(tmp_path / "rl")
    t = TxTable.create(spark, p, _mk(spark, 0, 5).coalesce(1))   # v0
    for i in range(4):                                           # v1..v4
        t.append(_mk(spark, 10 * (i + 1), 10 * (i + 1) + 2).coalesce(1))
    schema = t.snapshot().schema

    r = TxTableStreamReader(schema, {"path": p, "maxversionspertrigger": "2"})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}      # -1 + 2
    r.partitions({"version": -1}, {"version": 1})  # plan advances base
    assert r.latestOffset() == {"version": 3}
    r.partitions({"version": 1}, {"version": 3})
    assert r.latestOffset() == {"version": 4}      # capped at latest
    # unlimited reader still sees everything at once
    r2 = TxTableStreamReader(schema, {"path": p})
    assert r2.latestOffset() == {"version": 4}

    # startingTimestamp: at-or-after resolution against commit history
    hist = {h["version"]: h["timestamp"] for h in t.history()}
    assert t.version_at_or_after(hist[3]) == 3
    assert t.version_at_or_after(0) == 0
    assert t.version_at_or_after(hist[4] + 1) == 5  # beyond latest: empty
    r3 = TxTableStreamReader(
        schema, {"path": p, "startingtimestamp": str(hist[3])}
    )
    assert r3.initialOffset() == {"version": 2}
    with pytest.raises(ValueError, match="not both"):
        TxTableStreamReader(
            schema,
            {"path": p, "startingversion": "1", "startingtimestamp": "5"},
        )


def test_rate_limit_restart_never_regresses_offset(spark, tmp_path):
    """On a RESTART Spark skips initialOffset() and resumes from its
    checkpointed offset, which the reader cannot see until
    partitions() is called. A maxVersionsPerTrigger cap seeded from
    startingVersion would then return an offset BELOW the checkpoint
    (Spark compares offsets by equality only → commit-log regression
    and replayed rows). Contract: until the engine reveals its start,
    latestOffset() is uncapped; afterwards the cap base max-merges the
    observed offsets and never moves backwards."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableChangeFeedReader,
        TxTableStreamReader,
        TxTableStreamSource,
    )

    p = str(tmp_path / "rr")
    t = TxTable.create(spark, p, _mk(spark, 0, 5).coalesce(1))   # v0
    for i in range(7):                                           # v1..v7
        t.append(_mk(spark, 10 * (i + 1), 10 * (i + 1) + 2).coalesce(1))
    schema = t.snapshot().schema

    # Simulate a restarted query: checkpoint holds v5, initialOffset
    # is never called. First latestOffset must NOT be capped at
    # startingVersion-1+max = 1 (below the checkpoint).
    r = TxTableStreamReader(schema, {"path": p, "maxversionspertrigger": "2"})
    assert r.latestOffset() == {"version": 7}       # uncapped pre-plan
    r.partitions({"version": 5}, {"version": 7})    # engine's real range
    assert r.latestOffset() == {"version": 7}       # base 7, not 1
    # cap base is monotonic: a smaller replanned range can't lower it
    r.partitions({"version": 5}, {"version": 6})
    assert r.latestOffset() == {"version": 7}

    # Fresh query (initialOffset called) still rate-limits batch one.
    rf = TxTableStreamReader(schema, {"path": p, "maxversionspertrigger": "2"})
    assert rf.initialOffset() == {"version": -1}
    assert rf.latestOffset() == {"version": 1}

    # Same contract for the change-feed reader.
    opts = {"path": p, "key": "k", "readchangefeed": "true",
            "maxversionspertrigger": "2"}
    rc = TxTableChangeFeedReader(TxTableStreamSource(opts).schema(), opts)
    assert rc.latestOffset() == {"version": 7}      # uncapped pre-plan
    rc.partitions({"version": 5}, {"version": 7})
    assert rc.latestOffset() == {"version": 7}
    rc2 = TxTableChangeFeedReader(TxTableStreamSource(opts).schema(), opts)
    assert rc2.initialOffset() == {"version": -1}
    assert rc2.latestOffset() == {"version": 1}


def test_cdc_duplicate_key_raises_clear_error(spark, tmp_path):
    """The read-time CDC diff requires 'key' to be unique per row: a
    duplicate would cross-product the Arrow full-outer join and emit
    inflated / misclassified events. The reader detects it and raises
    a ValueError naming the commit instead of streaming wrong data."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableChangeFeedReader,
        TxTableStreamSource,
    )

    p = str(tmp_path / "dup")
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "k long, v long"
    ).coalesce(1)
    t = TxTable.create(spark, p, df)                       # v0: k=1 dup'd
    t.delete(F.col("v") >= 20)                             # v1: COW rewrite
    opts = {"path": p, "key": "k", "readchangefeed": "true"}
    r = TxTableChangeFeedReader(TxTableStreamSource(opts).schema(), opts)
    parts = r.partitions({"version": 0}, {"version": 1})
    with pytest.raises(ValueError, match="not\\s+unique.*commit\\s+1"):
        for part in parts:
            list(r.read(part))
    # composite key that IS unique diffs fine on the same commits
    opts2 = {"path": p, "key": "k,v", "readchangefeed": "true"}
    r2 = TxTableChangeFeedReader(TxTableStreamSource(opts2).schema(), opts2)
    evs = [
        row for part in r2.partitions({"version": 0}, {"version": 1})
        for b in r2.read(part) for row in b.to_pylist()
    ]
    assert sorted(
        (e["k"], e["v"]) for e in evs if e["_change_type"] == "delete"
    ) == [(2, 20), (3, 30)]


def test_apply_changes_materializes_downstream_table(spark, tmp_path):
    """CDC-APPLY (r8): apply_changes drains the change feed into a
    downstream TxTable via last-writer-wins reduce + MERGE. After each
    drain the target equals the source's current snapshot; a second
    drain with the same checkpoint is incremental (only new commits),
    and keys deleted then re-inserted across commits land on their
    final state."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        apply_changes,
    )

    src_p = str(tmp_path / "ac_src")
    tgt_p = str(tmp_path / "ac_tgt")
    ckpt = str(tmp_path / "ac_ck")
    t = TxTable.create(spark, src_p, _mk(spark, 0, 20).coalesce(1))  # v0
    t.update(F.col("k") < 5, {"v": (F.col("v") + 1000).cast("long")})  # v1
    t.delete(F.col("k") >= 15)                                         # v2
    tgt = TxTable.create(
        spark, tgt_p, _mk(spark, 0, 1).limit(0).coalesce(1)
    )
    apply_changes(spark, src_p, tgt, "k", ckpt)
    assert sorted(map(tuple, tgt.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )
    # incremental: delete-then-reinsert across commits -> final state
    t.delete(F.col("k") == 3)                                          # v3
    t.append(spark.createDataFrame([(3, 42)], "k long, v long"))       # v4
    t.update(F.col("k") == 7, {"v": F.lit(-7).cast("long")})           # v5
    apply_changes(spark, src_p, tgt, "k", ckpt)
    got = {r["k"]: r["v"] for r in tgt.read().collect()}
    assert got[3] == 42 and got[7] == -7
    assert sorted(map(tuple, tgt.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )
    # replaying the SAME batch is idempotent (merge on identical
    # reduced rows): fresh checkpoint re-applies everything, state
    # unchanged
    apply_changes(spark, src_p, tgt, "k", str(tmp_path / "ac_ck2"))
    assert sorted(map(tuple, tgt.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )


def test_stream_over_expired_log_fails_clearly(spark, tmp_path):
    """Log retention x streaming (error contract): a stream whose
    startingVersion — or checkpointed offset — fell below the
    expire_log cut fails with a clear retention error, not a raw
    FileNotFoundError/KeyError from log internals."""
    p = str(tmp_path / "exp")
    t = TxTable.create(spark, p, _mk(spark, 0, 5).coalesce(1))
    ckpt = str(tmp_path / "exp_ck")
    got = _drain(spark, p, ckpt)  # checkpoint now holds offset v0
    assert len(got) == 5
    for i in range(10):  # reach v10 -> checkpoint -> expire v0..v9
        t.append(_mk(spark, 10 * (i + 1), 10 * (i + 1) + 2).coalesce(1))
    assert t.expire_log()
    # fresh stream from below the cut
    with pytest.raises(StreamingQueryException, match="expired by log retention"):
        _drain(spark, p, str(tmp_path / "exp_ck2"), startingVersion="1")
    # checkpointed stream resuming across the expired range
    with pytest.raises(StreamingQueryException, match="expired by log retention"):
        _drain(spark, p, ckpt)
    # CDC flavor honours the same contract
    with pytest.raises(StreamingQueryException, match="expired by log retention"):
        _cdc_drain(spark, p, str(tmp_path / "exp_ck3"), startingVersion="1")


def test_starting_version_latest_skips_history(spark, tmp_path):
    """startingVersion='latest' (the Delta spelling): the stream sees
    only commits made AFTER it was constructed."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txstream import (
        TxTableStreamReader,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )

    p = str(tmp_path / "latest1")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").cast("long").alias("v")
    )
    t = TxTable.create(spark, p, df)
    t.append(df)                      # history the stream must skip
    schema = t.snapshot().schema
    r = TxTableStreamReader(schema, {"path": p, "startingversion": "latest"})
    start = r.initialOffset()
    assert start == {"version": t.latest_version()}   # nothing pending
    assert r.latestOffset() == start
    # a commit AFTER stream start becomes visible
    t.append(df)
    assert r.latestOffset() == {"version": t.latest_version()}
    parts = r.partitions(start, r.latestOffset())
    assert len(parts) >= 1            # exactly the new commit's files


def test_stream_reads_shallow_clone(spark, tmp_path):
    """r9: the streaming source works over a shallow CLONE — commit 0's
    absolute external references stream like local files, and the
    clone's own appends flow incrementally from the same checkpoint."""
    p = str(tmp_path / "clsrc")
    t = TxTable.create(spark, p, _mk(spark, 0, 30))
    t.append(_mk(spark, 30, 50))
    c = t.clone(str(tmp_path / "clstream"))
    ckpt = str(tmp_path / "clckpt")
    got = _drain(spark, c.path, ckpt)
    assert sorted(r["k"] for r in got) == list(range(50))
    # clone-side append: only the new commit streams; a post-clone
    # SOURCE append must NOT leak into the clone's stream
    t.append(_mk(spark, 500, 510))
    c.append(_mk(spark, 100, 110))
    got = _drain(spark, c.path, ckpt)
    assert sorted(r["k"] for r in got) == list(range(100, 110))


def test_cdc_starting_below_clone_retention_cut_fails_clearly(spark, tmp_path):
    """r10 (VERDICT r9 #6): a clone renumbers history from version 0
    (the CLONE commit) — pre-clone change history belongs to the
    SOURCE. Once the clone's own expire_log cuts above version 0, a
    CDC stream whose startingVersion predates the cut (i.e. reaches
    for the clone-point era) must fail with the documented retention
    error — never silently emit nothing."""
    p = str(tmp_path / "clretsrc")
    t = TxTable.create(spark, p, _mk(spark, 0, 10).coalesce(1))
    c = t.clone(str(tmp_path / "clret"))
    # fresh CDC from version 0 works first: the CLONE commit streams
    # its referenced snapshot as inserts (the defined clone-boundary
    # semantics for a DV-less clone)
    got = _cdc_drain(spark, c.path, str(tmp_path / "clret_ck0"))
    assert sorted(r["k"] for r in got) == list(range(10))
    for i in range(CHECKPOINT_INTERVAL + 1):
        c.append(_mk(spark, 100 + 10 * i, 102 + 10 * i).coalesce(1))
    assert c.expire_log()
    with pytest.raises(StreamingQueryException, match="expired by log retention"):
        _cdc_drain(spark, c.path, str(tmp_path / "clret_ck1"), startingVersion="1")
    # the batch flavor keeps working above the cut
    assert c.read().count() > 0


def test_stream_rejects_dv_carrying_clone(spark, tmp_path):
    """A CLONE whose external references carry deletion vectors is NOT
    representable as an insert stream (raw files hold masked rows) —
    it must raise with guidance; ignoreChanges skips it whole."""
    p = str(tmp_path / "cldvsrc")
    t = TxTable.create(spark, p, _mk(spark, 0, 30).coalesce(1))
    t.delete(F.col("k") < 5, strategy="mor")
    c = t.clone(str(tmp_path / "cldv"))
    with pytest.raises(StreamingQueryException, match="CLONE"):
        _drain(spark, c.path, str(tmp_path / "cldvck1"))
    c.append(_mk(spark, 100, 105))
    got = _drain(
        spark, c.path, str(tmp_path / "cldvck2"), ignoreChanges="true"
    )
    assert sorted(r["k"] for r in got) == list(range(100, 105))
