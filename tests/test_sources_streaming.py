"""Tests for the REST Python data source, the document sink, and the
Structured Streaming variants (SURVEY.md §2.1, §2.9).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.schemas import (
    TESTDATA_SCHEMAS,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
    JsonLinesClient,
    full_refresh_write,
    write_documents,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
    read_testdata,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
    SocrataSource,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.ingest import (
    watermark_dedup,
)

from .conftest import SF_SMOKE

EVENTS_PARQUET = os.path.join(SF_SMOKE, "events.parquet")


def run_available_now(result, checkpoint: str, out_path: str) -> None:
    """Drain everything currently available (Trigger.AvailableNow),
    append it to a parquet sink, stop."""
    q = (
        result.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .start()
    )
    q.awaitTermination()


@pytest.fixture(scope="module")
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SocrataSource)
    return spark


def _load(spark, **extra):
    opts = {
        "mode": "fixture",
        "fixture_path": EVENTS_PARQUET,
        "ts_column": "ts",
        "start": "2024-01-01",
        "end": "2024-12-31",
    } | extra
    reader = spark.read.format("socrata_cfs")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_rest_source_fetches_all_windows(registered, spark):
    df = _load(spark)
    n_expected = read_testdata(spark, SF_SMOKE, "events").count()
    assert df.count() == n_expected
    # one partition per monthly window (Jan..Dec 2024)
    assert df.rdd.getNumPartitions() == 12


def test_rest_source_rows_roundtrip(registered, spark):
    df = _load(spark)
    ref = read_testdata(spark, SF_SMOKE, "events")
    got = df.select("event_id", "event_type", "value").orderBy("event_id").collect()
    want = ref.select("event_id", "event_type", "value").orderBy("event_id").collect()
    assert got == want
    # string timestamps parse back to the original µs values
    parsed = df.select(
        F.to_timestamp_ntz("ts", F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")).alias("ts")
    ).orderBy("ts").collect()
    want_ts = ref.select("ts").orderBy("ts").collect()
    assert parsed == want_ts


def test_rest_source_filter_pushdown_narrows_windows(registered, spark):
    # A ts range filter must reach the source: fewer partitions planned,
    # not a full fetch + post-filter.
    df = _load(spark).filter((F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20"))
    assert df.rdd.getNumPartitions() == 1  # narrowed to January only
    rows = df.count()
    ref = (
        read_testdata(spark, SF_SMOKE, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp_ntz"))
        )
        .count()
    )
    assert rows == ref


def test_http_window_query_half_open_upper_bound():
    # ts<'end+1day' (not ts<='end'): string-vs-timestamp compare on a
    # day-granularity bound would drop the last day's intraday rows.
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
        SocrataReader,
        _WindowPartition,
        DEFAULT_SCHEMA,
    )

    reader = SocrataReader(DEFAULT_SCHEMA, {"ts_column": "ts", "mode": "http"})
    # unbounded by default: the reference fetches 2019 → now
    assert (reader.start, reader.end) == (dt.date(2019, 1, 1), dt.date.today())
    q = reader._window_query(_WindowPartition("2024-01-01", "2024-01-31"), limit=1000, offset=0)
    assert "ts>='2024-01-01'" in q
    assert "ts<'2024-02-01'" in q
    assert "<=" not in q
    # stable paging: explicit order + limit/offset in every page query
    assert "$order=event_id" in q and "$limit=1000" in q and "$offset=0" in q


class _FakeHttpResponse:
    def __init__(self, payload, status=200):
        self.text = json.dumps(payload)
        self.status = status

    def raise_for_status(self):
        if self.status >= 400:
            raise RuntimeError(f"HTTP {self.status}")


class _ScriptedRequests:
    """Fake ``requests`` module: serves records page-by-page from
    $limit/$offset, failing on scripted call indexes (1-based)."""

    def __init__(self, records, fail_calls=(), fail_with="conn"):
        self.records = records
        self.fail_calls = set(fail_calls)
        self.fail_with = fail_with
        self.calls = []

    def get(self, url, params, timeout):
        self.calls.append(params)
        if len(self.calls) in self.fail_calls:
            if self.fail_with == "conn":
                raise ConnectionError("scripted transport failure")
            return _FakeHttpResponse([], status=503)
        limit = int(re.search(r"\$limit=(\d+)", params).group(1))
        offset = int(re.search(r"\$offset=(\d+)", params).group(1))
        return _FakeHttpResponse(self.records[offset : offset + limit])


def _http_reader(fake, page_size=10, max_retries=3):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
        DEFAULT_SCHEMA,
        SocrataReader,
    )

    reader = SocrataReader(
        DEFAULT_SCHEMA,
        {
            "ts_column": "ts",
            "mode": "http",
            "url": "http://example.invalid/cfs.json",
            "page_size": str(page_size),
            "max_retries": str(max_retries),
            "retry_backoff_s": "0",
        },
    )
    reader.requests_module = fake
    return reader


def _records(n):
    return [
        {"event_id": i, "ts": f"2024-01-{i % 28 + 1:02d}T01:02:03.000000",
         "user_id": i * 10, "event_type": "click", "value": 1.5, "props": "{}"}
        for i in range(n)
    ]


def test_http_transport_pages_through_whole_window():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
        _WindowPartition,
    )

    fake = _ScriptedRequests(_records(25))
    reader = _http_reader(fake, page_size=10)
    rows = list(reader._read_http(_WindowPartition("2024-01-01", "2024-01-31")))
    assert len(rows) == 25
    assert [r[0] for r in rows] == list(range(25))  # ordered, no dupes/gaps
    assert len(fake.calls) == 3  # pages of 10, 10, 5
    assert "$offset=20" in fake.calls[-1]


def test_http_transport_retries_transient_failures_exactly_once():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
        _WindowPartition,
    )

    # page 2's first two attempts fail (calls 2 and 3): retry must
    # re-fetch ONLY that page — page 1 rows are never re-yielded.
    fake = _ScriptedRequests(_records(25), fail_calls={2, 3})
    reader = _http_reader(fake, page_size=10, max_retries=3)
    rows = list(reader._read_http(_WindowPartition("2024-01-01", "2024-01-31")))
    assert [r[0] for r in rows] == list(range(25))
    assert len(fake.calls) == 5  # p1 ok, p2 fail, p2 fail, p2 ok, p3 ok
    assert sum("$offset=10" in c for c in fake.calls) == 3


def test_http_transport_http_error_status_retries_then_raises():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
        _WindowPartition,
    )

    fake = _ScriptedRequests(_records(5), fail_calls={1, 2, 3}, fail_with="status")
    reader = _http_reader(fake, page_size=10, max_retries=2)
    with pytest.raises(RuntimeError, match="HTTP 503"):
        list(reader._read_http(_WindowPartition("2024-01-01", "2024-01-31")))
    assert len(fake.calls) == 3  # initial + 2 retries, then surfaced


def test_document_sink_distributed_write_and_refresh(spark, tmp_path):
    root = str(tmp_path / "docstore")
    df = read_testdata(spark, SF_SMOKE, "events").select("event_id", "event_type").limit(100)
    factory = lambda: JsonLinesClient(root)  # noqa: E731

    write_documents(df, "calls", factory, retry_sleep_s=0.0)
    docs = JsonLinesClient(root).read_all("calls")
    assert len(docs) == 100 and {"event_id", "event_type"} <= set(docs[0])

    # full refresh: drop + reload must not duplicate (app.py:957-968)
    full_refresh_write(df, "calls", factory, retry_sleep_s=0.0)
    assert len(JsonLinesClient(root).read_all("calls")) == 100


class _FakeBulkResult:
    def __init__(self, ids):
        self.inserted_ids = ids


class _FakeBulkWriteError(Exception):
    def __init__(self, details):
        super().__init__("bulk write error")
        self.details = details


class _FakeCollection:
    """pymongo Collection surface: insert_many(docs, ordered=...)."""

    def __init__(self):
        self.docs = {}

    def insert_many(self, docs, ordered=True):
        dup_errors, inserted = [], []
        for i, d in enumerate(docs):
            _id = d.get("_id", id(d))
            if _id in self.docs:
                dup_errors.append({"index": i, "code": 11000})
                if ordered:
                    break
                continue
            self.docs[_id] = d
            inserted.append(_id)
        if dup_errors:
            raise _FakeBulkWriteError({"writeErrors": dup_errors})
        return _FakeBulkResult(inserted)


class _FakeDatabase:
    """pymongo Database surface: __getitem__ -> Collection, and
    attribute access that would happily create a Collection named
    'insert_many' (the trap ADVICE r1 flagged)."""

    def __init__(self):
        self.collections = {}

    def __getitem__(self, name):
        return self.collections.setdefault(name, _FakeCollection())

    def drop_collection(self, name):
        self.collections.pop(name, None)

    def __getattr__(self, name):
        return self[name]  # pymongo-style implicit collection


def test_mongo_adapter_against_pymongo_database_surface(spark):
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
        MongoDatabaseAdapter,
    )

    db = _FakeDatabase()
    adapter = MongoDatabaseAdapter(db)
    docs = [{"_id": "a", "v": 1}, {"_id": "b", "v": 2}]
    assert adapter.insert_many("calls", docs) == 2
    assert set(db.collections["calls"].docs) == {"a", "b"}

    # Retry of the same batch: duplicate-key errors swallowed, no dupes.
    assert adapter.insert_many("calls", docs) == 0
    assert len(db.collections["calls"].docs) == 2

    adapter.drop_collection("calls")
    assert "calls" not in db.collections


def test_write_documents_deterministic_ids_dedup_on_retry(spark, tmp_path):
    # Same rows written twice through the adapter (simulating a Spark
    # task re-execution) must not duplicate when deterministic_ids=True.
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
        MongoDatabaseAdapter,
        content_id,
    )

    shared = _FakeDatabase()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)

    # adapter must be constructed on the executor; share state via a
    # module-level singleton is not possible across processes, so run
    # the partition handler locally through the same code path:
    adapter = MongoDatabaseAdapter(shared)
    rows = [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    docs = [{**r, "_id": content_id(r)} for r in rows]
    adapter.insert_many("calls", list(docs))
    adapter.insert_many("calls", list(docs))  # retry: no duplicates
    assert len(shared.collections["calls"].docs) == 2

    # content_id is stable and key-order independent
    assert content_id({"k": 1, "v": "a"}) == content_id({"v": "a", "k": 1})
    assert df.count() == 2  # df unused beyond sanity; keeps fixture warm


class _FlakyKeyedStoreClient:
    """Unique-key store (one file per ``_id``, like Mongo's _id index)
    whose FIRST insert_many call per store writes half the batch then
    dies mid-batch — the failure VERDICT r2 #6 asked to inject.
    Re-inserting an existing key counts as a duplicate-key no-op."""

    def __init__(self, root):
        self.root = root

    def insert_many(self, collection: str, docs: list[dict]) -> int:
        cdir = os.path.join(self.root, collection)
        os.makedirs(cdir, exist_ok=True)
        marker = os.path.join(self.root, "crashed-once")
        crash_at = None if os.path.exists(marker) else max(1, len(docs) // 2)
        written = 0
        for i, d in enumerate(docs):
            if crash_at is not None and i >= crash_at:
                with open(marker, "w", encoding="utf-8") as fh:
                    fh.write("1")
                raise ConnectionError("store died mid-batch")
            path = os.path.join(cdir, f"{d['_id']}.json")
            if os.path.exists(path):
                continue  # duplicate key -> no-op (swallowed like 11000)
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(json.dumps(d, default=str))
            written += 1
        return written

    def drop_collection(self, collection: str) -> None:
        cdir = os.path.join(self.root, collection)
        if os.path.isdir(cdir):
            for name in os.listdir(cdir):
                os.unlink(os.path.join(cdir, name))


def test_write_documents_mid_batch_crash_retry_exactly_once(spark, tmp_path):
    # End-to-end through foreachPartition (real executor processes):
    # the store crashes mid-batch on the first attempt; the sink's
    # retry re-sends the whole batch; deterministic _ids collapse the
    # half that was already written. Net effect: exactly one document
    # per row.
    root = str(tmp_path / "flakystore")
    df = (
        read_testdata(spark, SF_SMOKE, "events")
        .select("event_id", "event_type")
        .limit(40)
        .coalesce(1)  # one partition -> one scripted crash
    )
    write_documents(
        df, "calls", lambda: _FlakyKeyedStoreClient(root), retry_sleep_s=0.0
    )
    files = os.listdir(os.path.join(root, "calls"))
    assert len(files) == 40  # every row exactly once, despite the crash
    assert os.path.exists(os.path.join(root, "crashed-once"))


class _AckLostClient(JsonLinesClient):
    """Document store whose first insert_many per client (one client
    per partition) writes the whole batch, then loses the
    acknowledgement — the sink retries a batch that already landed."""

    def __init__(self, root):
        super().__init__(root)
        self.acked_once = False

    def insert_many(self, collection: str, docs: list[dict]) -> int:
        n = super().insert_many(collection, docs)
        if not self.acked_once:
            self.acked_once = True
            raise ConnectionError("acknowledgement lost")
        return n


def test_json_lines_client_retry_after_lost_ack_keeps_one_copy(spark, tmp_path):
    # The retried batch carries the same content-derived _ids, so it
    # lands in the same file: exactly one copy of each document.
    root = str(tmp_path / "ackstore")
    df = (
        read_testdata(spark, SF_SMOKE, "events")
        .select("event_id", "event_type")
        .limit(40)
        .repartition(2)
    )
    write_documents(df, "calls", lambda: _AckLostClient(root), retry_sleep_s=0)
    docs = JsonLinesClient(root).read_all("calls")
    assert len(docs) == 40
    assert len({d["_id"] for d in docs}) == 40


def test_mongo_adapter_mid_batch_dup_and_transient_mix():
    # pymongo surface: first call inserts a prefix then raises a
    # TRANSIENT error; the sink-level retry re-sends everything and the
    # adapter swallows the resulting duplicate-key writeErrors — ids
    # stay unique, non-dup errors still raise.
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
        MongoDatabaseAdapter,
    )

    class _FlakyCollection(_FakeCollection):
        def __init__(self):
            super().__init__()
            self.crashed = False

        def insert_many(self, docs, ordered=True):
            if not self.crashed:
                for d in docs[: len(docs) // 2]:
                    self.docs[d["_id"]] = d
                self.crashed = True
                raise ConnectionError("socket reset mid-batch")
            return super().insert_many(docs, ordered=ordered)

    db = _FakeDatabase()
    db.collections["calls"] = _FlakyCollection()
    adapter = MongoDatabaseAdapter(db)
    docs = [{"_id": f"id{i}", "v": i} for i in range(6)]

    with pytest.raises(ConnectionError):
        adapter.insert_many("calls", docs)  # transient errors surface
    assert adapter.insert_many("calls", docs) == 3  # retry: dups swallowed
    assert len(db.collections["calls"].docs) == 6

    # a non-duplicate write error must NOT be swallowed
    class _PoisonError(Exception):
        details = {"writeErrors": [{"index": 0, "code": 121}]}  # validation

    class _PoisonCollection(_FakeCollection):
        def insert_many(self, docs, ordered=True):
            raise _PoisonError()

    db.collections["poison"] = _PoisonCollection()
    with pytest.raises(_PoisonError):
        adapter.insert_many("poison", docs)


def test_streaming_watermark_dedup(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    events = read_testdata(spark, SF_SMOKE, "events").limit(200)
    # duplicate every record (the re-fetch overlap scenario)
    dup = events.unionAll(events)
    dup.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)

    stream = spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(src)
    deduped = watermark_dedup(stream, keys=["event_id"], watermark="1 hour")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    run_available_now(deduped, ckpt, out)

    assert spark.read.parquet(out).count() == 200


def test_available_now_checkpoint_resumes_incrementally(spark, tmp_path):
    """The scheduled-batch INCREMENTAL contract (vs the reference's
    daily full re-ingest, app.py:50): a second AvailableNow drain with
    the SAME checkpoint processes only files added since the first
    drain — no reprocessing, no duplicates, exactly-once append."""
    src = tmp_path / "inc_src"
    src.mkdir()
    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")

    events = read_testdata(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    first = events.filter(F.col("event_id") < 200)
    second = events.filter((F.col("event_id") >= 200) & (F.col("event_id") < 300))
    first.write.parquet(str(src / "batch1"))

    def drain():
        stream = spark.readStream.schema(first.schema).option(
            "pathGlobFilter", "*.parquet"
        ).option("recursiveFileLookup", "true").parquet(str(src))
        run_available_now(stream.select("event_id", "event_type"), ckpt, out)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    second.write.parquet(str(src / "batch2"))
    drain()
    got = spark.read.parquet(out)
    assert got.count() == first.count() + second.count()
    # exactly-once: no event_id appears twice across the two drains
    assert got.select("event_id").distinct().count() == got.count()


def test_available_now_crash_midrain_recovers_exactly_once(spark, tmp_path):
    """Crash-recovery contract (VERDICT r5 #8): an AvailableNow drain
    is KILLED mid-run — the first micro-batch commits to the parquet
    sink, then a poisoned row fails the second — and a clean re-run
    against the SAME checkpoint + sink resumes from the committed
    offset: no reprocessing of the committed prefix, no duplicates,
    and the final output equals the batch twin exactly."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "crash_src"
    src.mkdir()
    out = str(tmp_path / "crash_out")
    ckpt = str(tmp_path / "crash_ckpt")

    events = read_testdata(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    parts = [
        events.filter(F.col("event_id") < 100),
        events.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)),
        events.filter((F.col("event_id") >= 200) & (F.col("event_id") < 300)),
    ]
    counts = [p.count() for p in parts]
    for i, p in enumerate(parts, 1):
        # one file per dir + distinct mtimes: with maxFilesPerTrigger=1
        # the drain processes them as three ordered micro-batches
        p.coalesce(1).write.parquet(str(src / f"batch{i}"))
        time.sleep(0.2)

    def stream():
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
        )

    @F.udf("long")
    def poison(v):
        if v >= 100:
            raise ValueError("injected mid-drain crash")
        return v

    with pytest.raises(StreamingQueryException):
        run_available_now(
            stream()
            .withColumn("event_id", poison("event_id"))
            .select("event_id", "event_type"),
            ckpt,
            out,
        )
    committed = spark.read.parquet(out)
    assert committed.count() == counts[0]  # first batch committed, rest not

    # restart: same checkpoint, clean plan — drains ONLY the remainder
    run_available_now(stream().select("event_id", "event_type"), ckpt, out)
    got = spark.read.parquet(out)
    assert got.count() == sum(counts)
    assert got.select("event_id").distinct().count() == sum(counts)
    batch_twin = sorted(
        r["event_id"] for p in parts for r in p.select("event_id").collect()
    )
    assert sorted(r["event_id"] for r in got.collect()) == batch_twin


# ---------------------------------------------------------------------------
# Round-4: scheduled-cadence runner (the reference's daily driver,
# app.py:50/991-995). Fake clock — no wall-clock sleeps.
# ---------------------------------------------------------------------------


class _FakeClock:
    def __init__(self, t0=0.0):
        self.t = t0

    def __call__(self):
        return self.t

    def sleep(self, dt):
        assert dt > 0
        self.t += dt


def test_cadence_runner_fires_daily_at_anchor():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
        seconds_into_day,
    )

    fired = []
    clk = _FakeClock(t0=1_000.0)  # before 01:30 of epoch day 0
    r = CadenceRunner.daily_at(
        fired.append, at="01:30", clock=clk, sleep=clk.sleep
    )
    r.run(max_cycles=3)
    anchor = seconds_into_day("01:30")
    assert fired == [anchor + 86_400 * k for k in (0, 1, 2)]
    assert r.cycles_run == 3 and r.failures == 0
    # starting AFTER today's anchor fires tomorrow, not today
    clk2 = _FakeClock(t0=10_000.0)
    fired2 = []
    r2 = CadenceRunner.daily_at(fired2.append, at="01:30", clock=clk2, sleep=clk2.sleep)
    r2.run(max_cycles=1)
    assert fired2 == [anchor + 86_400]


def test_cadence_runner_failed_cycle_retries_next_cadence():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    calls = []

    def flaky(ts):
        calls.append(ts)
        if len(calls) == 1:
            raise RuntimeError("socrata 503")  # reference's API hiccup

    clk = _FakeClock(t0=0.0)
    r = CadenceRunner(flaky, interval_s=100.0, anchor_s=0.0, clock=clk, sleep=clk.sleep)
    r.run(max_cycles=3)
    # first cycle failed but the loop kept cadence: fires at 100, 200, 300
    assert calls == [100.0, 200.0, 300.0]
    assert r.failures == 1 and r.cycles_run == 3


def test_cadence_runner_catch_up_runs_once_immediately():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    fired = []
    # process was down across 5 fire times; full-refresh semantics
    # mean ONE catch-up cycle heals the backlog
    clk = _FakeClock(t0=550.0)
    r = CadenceRunner(fired.append, interval_s=100.0, anchor_s=0.0, clock=clk, sleep=clk.sleep)
    r.run(max_cycles=2, started_after=0.0)
    # the catch-up runs immediately but receives the MOST RECENT missed
    # fire time (cadence-aligned watermark boundary, ADVICE r4) — not
    # the arbitrary process start time
    assert fired[0] == 500.0
    assert fired[1] == 600.0  # then back on cadence
    # and no catch-up when nothing was missed
    fired2 = []
    clk2 = _FakeClock(t0=550.0)
    r2 = CadenceRunner(fired2.append, interval_s=100.0, anchor_s=0.0, clock=clk2, sleep=clk2.sleep)
    r2.run(max_cycles=1, started_after=500.0)
    assert fired2 == [600.0]


def test_cadence_view_refresh_exactly_once_across_crashes(
    spark, tmp_path, monkeypatch
):
    """r11 (VERDICT r10 #3): the scheduled-pipeline composition — CDC
    in → ivm.refresh_view → serve, driven by CadenceRunner — stays
    exactly-once through BOTH crash modes. A tick that dies BEFORE the
    view commit leaves the view stale and the next cadence folds both
    ticks' changes; a tick that dies AFTER the commit (ack lost) is
    already durable and its replay no-ops (the txn watermark lives in
    the view table, no external checkpoint). At every tick the served
    view equals a from-scratch recompute of the source."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        ivm,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    real_refresh = ivm.refresh_view
    crash = {"mode": None}
    folded = []

    def refresh_with_crashes(*a, **kw):
        if crash["mode"] == "before":
            raise RuntimeError("process died before the fold")
        v = real_refresh(*a, **kw)
        folded.append(v)
        if crash["mode"] == "after":
            raise RuntimeError("process died after commit; ack lost")
        return v

    monkeypatch.setattr(ivm, "refresh_view", refresh_with_crashes)

    src = str(tmp_path / "cv_src")
    vpath = str(tmp_path / "cv_view")
    t = TxTable.create(
        spark,
        src,
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
            "k long, g string, v long",
        ).coalesce(1),
    )
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_view_refresh(
        spark, t, vpath, ["g"], sums=["v"], feed_key="k",
        clock=clk, sleep=clk.sleep,
    )

    def served():
        return sorted(
            map(
                tuple,
                ivm.finalize_state(
                    TxTable(spark, vpath).read(), ["g"], sums=["v"]
                ).collect(),
            )
        )

    def recomputed():
        return sorted(
            map(
                tuple,
                ivm.finalize_state(
                    ivm.state_of(t.read(), ["g"], sums=["v"]),
                    ["g"],
                    sums=["v"],
                ).collect(),
            )
        )

    # tick 1: init = one snapshot aggregate, stamped with the version
    r.run(max_cycles=1)
    assert served() == recomputed() and r.failures == 0

    # DML lands; tick 2 crashes BEFORE the fold -> view is stale but
    # consistent (no partial state), failure logged, cadence kept
    t.append(
        spark.createDataFrame(
            [(4, "b", 100), (5, "c", 1)], "k long, g string, v long"
        ).coalesce(1)
    )
    t.delete(F.col("k") == 1)
    pre_crash = served()
    crash["mode"] = "before"
    r.run(max_cycles=2)
    assert r.failures == 1 and served() == pre_crash

    # tick 3 heals: folds BOTH ticks' changes in one refresh
    crash["mode"] = None
    r.run(max_cycles=3)
    assert served() == recomputed()

    # more DML; tick 4 commits then dies before acking
    t.update(F.col("g") == "c", {"v": F.col("v") + 7})
    crash["mode"] = "after"
    r.run(max_cycles=4)
    assert r.failures == 2 and served() == recomputed()  # already durable
    vview = TxTable(spark, vpath).latest_version()

    # tick 5 replays: refresh no-ops (returns None), view version
    # does NOT advance — the lost-ack cycle was not folded twice
    crash["mode"] = None
    r.run(max_cycles=5)
    assert folded[-1] is None
    assert TxTable(spark, vpath).latest_version() == vview
    assert served() == recomputed()


def test_cadence_index_refresh_exactly_once_across_crashes(
    spark, tmp_path, monkeypatch
):
    """r11: CadenceRunner.for_index_refresh — the maintained-ANN-index
    twin of the view wiring. Exactly-once through both crash modes
    (before the MERGE commit: index stale, next cadence folds both
    ticks' DML; after it: replay no-ops, no double-fold), and at every
    healthy tick an exhaustive probe of the maintained index equals
    brute force over the source's CURRENT snapshot."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    real = sim.refresh_ivf_index
    crash = {"mode": None}

    def with_crashes(*a, **kw):
        if crash["mode"] == "before":
            raise RuntimeError("process died before the fold")
        v = real(*a, **kw)
        if crash["mode"] == "after":
            raise RuntimeError("process died after commit; ack lost")
        return v

    monkeypatch.setattr(sim, "refresh_ivf_index", with_crashes)

    rng = np.random.default_rng(5)

    def frame(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    src = TxTable.create(spark, str(tmp_path / "ci_src"), frame(range(24)))
    idx = str(tmp_path / "ci_idx")
    postings = TxTable(spark, f"{idx}/postings_tx")
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 4, "n_iter": 2, "seed": 5},
        clock=clk,
        sleep=clk.sleep,
    )

    def probe_vs_brute():
        cur = src.read()
        queries = cur.filter(F.col("vec_id").isin(1, 2, 3)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = sorted(
            map(
                tuple,
                sim.ivf_index_topk(spark, idx, queries, k=4, n_probe=4).collect(),
            )
        )
        want = sorted(map(tuple, sim.brute_force_topk(cur, queries, k=4).collect()))
        assert got == want

    # tick 1: init (train + assign the snapshot, watermark stamped)
    r.run(max_cycles=1)
    assert r.failures == 0 and postings.read().count() == 24
    probe_vs_brute()

    # DML lands; tick 2 crashes BEFORE the fold: index stale but
    # consistent, cadence kept
    src.delete(F.col("vec_id") % 7 == 0)
    src.append(frame(range(100, 105)))
    crash["mode"] = "before"
    r.run(max_cycles=2)
    assert r.failures == 1 and postings.read().count() == 24

    # tick 3 heals: ONE merge folds both ticks' DML
    crash["mode"] = None
    r.run(max_cycles=3)
    assert postings.read().count() == 24 - 4 + 5
    probe_vs_brute()

    # more DML; tick 4 commits then dies before acking
    src.update(
        F.col("vec_id") == 1,
        {"embedding": F.transform(F.col("embedding"), lambda x: -x)},
    )
    crash["mode"] = "after"
    r.run(max_cycles=4)
    assert r.failures == 2
    probe_vs_brute()  # already durable
    vidx = postings.latest_version()

    # tick 5 replays: the MERGE no-ops on its stale txn epoch — the
    # postings table version does NOT advance, nothing folds twice
    crash["mode"] = None
    r.run(max_cycles=5)
    assert postings.latest_version() == vidx
    probe_vs_brute()


def test_cadence_index_refresh_optimize_policy(spark, tmp_path):
    """r12 (VERDICT r11 #2): for_index_refresh(optimize_every=N) —
    the compaction policy that keeps the maintained postings' zone
    maps a real pruning structure under sustained MERGE churn. After
    every N ADVANCING folds the runner range-clusters the postings
    back to ~one list per file; no-op ticks (source unchanged) never
    trigger a rewrite; probes stay brute-force-exact throughout."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    rng = np.random.default_rng(9)

    def frame(ids):
        rows = []
        for i in ids:
            v = [0.0, 0.0, 0.0, 0.0]
            v[i % 4] = 1.0
            rows.append(
                (i, [float(x + 0.01 * n) for x, n in zip(v, rng.normal(size=4))])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    with pytest.raises(ValueError, match="optimize_every"):
        CadenceRunner.for_index_refresh(spark, None, "x", optimize_every=0)

    src = TxTable.create(spark, str(tmp_path / "op_src"), frame(range(32)))
    idx = str(tmp_path / "op_idx")
    postings = TxTable(spark, f"{idx}/postings_tx")
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 4, "n_iter": 6, "seed": 9},
        optimize_every=2,
        clock=clk,
        sleep=clk.sleep,
    )

    def max_opens() -> int:
        snap = postings.snapshot()

        def opens(l: int) -> int:
            n = 0
            for m in snap.files.values():
                mn, mx = (m.get("stats") or {}).get("_list", [None, None])
                if mn is None or mx is None or (mn <= l <= mx):
                    n += 1
            return n

        return max(opens(l) for l in range(4))

    def probe_vs_brute():
        cur = src.read()
        queries = cur.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = sorted(
            map(
                tuple,
                sim.ivf_index_topk(spark, idx, queries, k=4, n_probe=4).collect(),
            )
        )
        want = sorted(
            map(tuple, sim.brute_force_topk(cur, queries, k=4).collect())
        )
        assert got == want

    # tick 1: init (advancing fold #1; 1 % 2 != 0 -> no optimize)
    r.run(max_cycles=1)
    assert r.failures == 0 and max_opens() == 1
    v_after_init = postings.latest_version()

    # churn; tick 2 = advancing fold #2 -> fold THEN optimize in the
    # same tick: zone maps come out tight again
    src.update(
        F.col("vec_id") % 3 == 1,
        {"embedding": F.transform(F.col("embedding"), lambda x: -x)},
    )
    src.append(frame(range(100, 110)))
    r.run(max_cycles=2)
    assert r.failures == 0
    # fold + OPTIMIZE both committed (>= 2 new versions)
    assert postings.latest_version() >= v_after_init + 2
    assert max_opens() == 1
    probe_vs_brute()

    # quiet source; tick 3 is a no-op fold: it must NOT count toward
    # the policy and must NOT rewrite anything
    v3 = postings.latest_version()
    r.run(max_cycles=3)
    assert postings.latest_version() == v3

    # more churn; tick 4 = advancing fold #3 (3 % 2 != 0): fold only,
    # zone maps loosen and STAY loose until the next policy firing
    src.append(frame(range(200, 210)))
    src.delete(F.col("vec_id") % 5 == 2)
    r.run(max_cycles=4)
    assert max_opens() > 1
    probe_vs_brute()

    # tick 5 = advancing fold #4 -> policy fires again
    src.append(frame(range(300, 304)))
    r.run(max_cycles=5)
    assert max_opens() == 1
    probe_vs_brute()


def test_cadence_index_refresh_rebuild_trigger_mechanics(spark, tmp_path):
    """r12: the autonomous lifecycle loop — for_index_refresh with
    rebuild_if. A non-firing trigger leaves folds untouched; a firing
    trigger rebuilds in the SAME tick (retrain + atomic swap, marker
    stamped, the optimize policy skipped for that tick); the next
    quiet/advancing ticks return to plain folds against the rebuilt
    model, and probes stay brute-force-exact throughout. The trigger
    is a controlled stub here so the mechanics are deterministic; the
    skew SIGNAL itself is pinned in
    test_ivf_occupancy_skew_flags_concentrated_corpus."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    rng = np.random.default_rng(17)

    def frame(ids, axes):
        rows = []
        for i in ids:
            v = [0.0] * 8
            v[axes[i % len(axes)]] = 1.0
            rows.append(
                (i, [float(x + 0.01 * n) for x, n in zip(v, rng.normal(size=8))])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    src = TxTable.create(
        spark, str(tmp_path / "dr_src"), frame(range(32), axes=[0, 1, 2, 3])
    )
    idx = str(tmp_path / "dr_idx")
    postings = TxTable(spark, f"{idx}/postings_tx")
    fire = {"now": False}
    asked = []

    def trigger(s, path):
        asked.append(path)
        return fire["now"]

    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 4, "n_iter": 6, "seed": 17},
        rebuild_if=trigger,
        rebuild_kwargs={"n_lists": 4, "n_iter": 6, "seed": 18},
        optimize_every=1,
        clock=clk,
        sleep=clk.sleep,
    )

    def probe_vs_brute():
        cur = src.read()
        queries = cur.limit(2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = sorted(
            map(
                tuple,
                sim.ivf_index_topk(spark, idx, queries, k=4, n_probe=4).collect(),
            )
        )
        want = sorted(
            map(tuple, sim.brute_force_topk(cur, queries, k=4).collect())
        )
        assert got == want

    # tick 1 (init) + tick 2 (DML, trigger quiet): no marker, trigger
    # was consulted on the advancing fold
    r.run(max_cycles=1)
    src.append(frame(range(100, 108), axes=[0, 1, 2, 3]))
    r.run(max_cycles=2)
    # both ADVANCING ticks (init + fold) consulted the quiet trigger
    assert r.failures == 0 and len(asked) == 2
    assert sim._CENTROIDS_TXN not in postings.snapshot().txns

    # DML + firing trigger: the tick folds THEN rebuilds; the marker
    # lands at the source head and the optimize policy is skipped
    # (no OPTIMIZE commit after the rebuild's overwrite)
    src.delete(F.col("vec_id") % 9 == 1)
    fire["now"] = True
    r.run(max_cycles=3)
    fire["now"] = False
    assert r.failures == 0
    snap = postings.snapshot()
    assert snap.txns.get(sim._CENTROIDS_TXN) == src.latest_version()
    hist_ops = [h["operation"] for h in postings.history()]
    assert hist_ops[-1] == "OVERWRITE"  # rebuild, not OPTIMIZE, ended the tick
    probe_vs_brute()

    # no-op tick: trigger NOT consulted (source unchanged)
    n_asked = len(asked)
    r.run(max_cycles=4)
    assert len(asked) == n_asked

    # post-rebuild fold: plain MERGE against the rebuilt model
    src.append(frame(range(300, 304), axes=[0, 1, 2, 3]))
    marker = postings.snapshot().txns[sim._CENTROIDS_TXN]
    r.run(max_cycles=5)
    assert postings.snapshot().txns[sim._CENTROIDS_TXN] == marker
    new_cents = sim._maintained_centroids(spark, idx, postings.snapshot())
    got2 = {(r2["vec_id"], r2["_list"]) for r2 in postings.read().collect()}
    for r2 in src.read().filter(F.col("vec_id") >= 300).collect():
        vv = np.asarray(r2["embedding"], dtype=np.float64)
        n = np.linalg.norm(vv)
        assert (
            r2["vec_id"],
            int(np.argmax((vv / n if n > 0 else vv) @ new_cents.T)),
        ) in got2
    probe_vs_brute()


def test_cadence_rebuild_inherits_refresh_geometry(spark, tmp_path):
    """ADVICE r12: a drift rebuild preserves the configured quantizer
    shape. An index initialized at n_lists=8 via refresh_kwargs and
    rebuilt with NO rebuild_kwargs retrains at 8 lists (the rebuild's
    training params default from refresh_kwargs), never silently at
    the library default 16 — index geometry and probe cost don't move
    without an explicit override."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    rng = np.random.default_rng(31)
    src = TxTable.create(
        spark,
        str(tmp_path / "geo_src"),
        spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in range(32)],
            "vec_id long, embedding array<float>",
        ),
    )
    idx = str(tmp_path / "geo_idx")
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 8, "n_iter": 4, "seed": 31},
        rebuild_if=lambda s, p: True,  # fire on the first advancing fold
        clock=clk,
        sleep=clk.sleep,
    )
    r.run(max_cycles=1)
    assert r.failures == 0
    postings = TxTable(spark, f"{idx}/postings_tx")
    snap = postings.snapshot()
    assert sim._CENTROIDS_TXN in snap.txns  # the rebuild happened
    rebuilt = sim._maintained_centroids(spark, idx, snap)
    assert rebuilt.shape[0] == 8  # geometry inherited, not default 16


def test_cadence_rebuild_adopted_centroids_requires_geometry(spark, tmp_path):
    """ADVICE r12: when the init ADOPTED a caller-trained centroids
    matrix, the geometry lives in the matrix — a rebuild_if without
    rebuild_kwargs naming n_lists/centroids is refused at CONSTRUCTION
    (before any tick can silently retrain at the wrong shape)."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    cents = np.eye(4, 8)
    with pytest.raises(ValueError, match="rebuild_kwargs"):
        CadenceRunner.for_index_refresh(
            spark,
            None,
            str(tmp_path / "nope"),
            refresh_kwargs={"centroids": cents},
            rebuild_if=lambda s, p: False,
        )
    # naming the rebuilt shape explicitly constructs fine
    CadenceRunner.for_index_refresh(
        spark,
        None,
        str(tmp_path / "nope"),
        refresh_kwargs={"centroids": cents},
        rebuild_if=lambda s, p: False,
        rebuild_kwargs={"n_lists": 4},
    )


def test_cadence_rebuild_trigger_receives_log_store(spark, tmp_path):
    """ADVICE r12: for_index_refresh threads its configured log_store
    into rebuild_if predicates that accept one, so the drift signal
    reads the same log every other index operation uses; 2-arg
    predicates keep working unchanged."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        HardLinkLogStore,
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    class CountingStore(HardLinkLogStore):
        def __init__(self):
            super().__init__()
            self.puts = 0

        def put_if_absent(self, content: bytes, dst: str) -> bool:
            ok = super().put_if_absent(content, dst)
            if ok:
                self.puts += 1
            return ok

    store = CountingStore()
    rng = np.random.default_rng(37)
    src = TxTable.create(
        spark,
        str(tmp_path / "ls_src"),
        spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(16)],
            "vec_id long, embedding array<float>",
        ),
    )
    idx = str(tmp_path / "ls_idx")
    seen = []

    def trigger(s, path, log_store=None):
        seen.append(log_store)
        return False

    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 2, "n_iter": 2, "seed": 37},
        rebuild_if=trigger,
        log_store=store,
        clock=clk,
        sleep=clk.sleep,
    )
    r.run(max_cycles=1)
    assert r.failures == 0 and seen == [store]
    assert store.puts >= 1  # the index really committed through it
    # the shipped skew trigger accepts the keyword and reads the
    # store-backed index end-to-end
    assert sim.skew_rebuild_trigger(1e9)(spark, idx, log_store=store) is False


def test_ivf_occupancy_skew_flags_concentrated_corpus(spark, tmp_path):
    """The stateless drift SIGNAL: balanced four-cluster corpus reads
    near 1.0; after the corpus collapses onto one axis orthogonal to
    everything the quantizer trained on (zero components elsewhere, so
    every row normalizes to the SAME direction and takes the same
    argmax — deterministic concentration), the skew reads the
    theoretical maximum n_lists and the default trigger fires."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )

    rng = np.random.default_rng(23)
    rows = []
    for i in range(32):
        v = [0.0] * 8
        v[i % 4] = 1.0
        rows.append(
            (i, [float(x + 0.01 * n) for x, n in zip(v, rng.normal(size=8))])
        )
    src = TxTable.create(
        spark,
        str(tmp_path / "sk_src"),
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
    )
    idx = str(tmp_path / "sk_idx")
    sim.refresh_ivf_index(spark, src, idx, n_lists=4, n_iter=6, seed=23)
    balanced = sim.ivf_occupancy_skew(spark, idx)
    assert balanced < 3.0
    assert not sim.skew_rebuild_trigger(3.0)(spark, idx)

    # collapse: every new vector is exactly (0,..,0,c,0) with c > 0 —
    # identical after normalization, so one cell takes everything
    src.delete(F.lit(True))
    drift = [
        (200 + i, [0.0] * 6 + [float(1.0 + 0.01 * abs(rng.normal()))] + [0.0])
        for i in range(40)
    ]
    src.append(
        spark.createDataFrame(drift, "vec_id long, embedding array<float>")
    )
    sim.refresh_ivf_index(spark, src, idx)
    assert sim.ivf_occupancy_skew(spark, idx) == pytest.approx(4.0)
    assert sim.skew_rebuild_trigger(3.0)(spark, idx)
    # r13: the sampled read sees the same concentration (every sampled
    # row is in the one hot cell — the ratio is exact here, and
    # unbiased in general); a bogus fraction is refused
    assert sim.ivf_occupancy_skew(
        spark, idx, sample_fraction=0.5
    ) == pytest.approx(4.0)
    with pytest.raises(ValueError, match="sample_fraction"):
        sim.ivf_occupancy_skew(spark, idx, sample_fraction=1.5)


def test_cadence_minhash_index_refresh(spark, tmp_path):
    """r13: for_minhash_index_refresh — scheduler wiring for the
    CDC-maintained LSH dedup index. Tick 1 initializes, a quiet tick
    no-ops (no new commit), a post-DML tick folds; pairs served from
    the maintained index equal the ad-hoc spelling on the current
    corpus after every advancing tick; and the maintenance runner
    composes on the sigs table under the slower-than contract."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        dedup as dd,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    words = ["kappa", "lam", "mu", "nu", "xi", "omicron"]

    def frame(ids):
        rows = [
            (i, " ".join(words[(i + j) % len(words)] for j in range(6)))
            for i in ids
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    src = TxTable.create(
        spark, str(tmp_path / "mh_src"), frame(range(24)),
        stats_columns=["doc_id"],
    )
    idx = str(tmp_path / "mh_idx")
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_minhash_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"num_hashes": 4, "band_size": 2, "shingle_n": 2},
        clock=clk,
        sleep=clk.sleep,
    )

    def pairs_vs_adhoc():
        cur = src.read()
        fresh = dd.minhash_signatures(cur, num_hashes=4, shingle_n=2)
        want = sorted(
            map(tuple, dd.lsh_candidate_pairs(fresh, num_hashes=4).collect())
        )
        got = sorted(map(tuple, dd.minhash_index_pairs(spark, idx).collect()))
        assert got == want

    sigs_tx = TxTable(spark, f"{idx}/sigs_tx")
    r.run(max_cycles=1)  # init
    assert r.failures == 0 and sigs_tx.read().count() == 24
    pairs_vs_adhoc()

    hist = len(sigs_tx.history())
    r.run(max_cycles=2)  # quiet: source unchanged, no new commit
    assert r.failures == 0 and len(sigs_tx.history()) == hist

    src.delete(F.col("doc_id") % 6 == 1)
    src.append(frame(range(50, 56)))
    r.run(max_cycles=3)  # fold
    assert r.failures == 0
    pairs_vs_adhoc()

    # the upkeep story: plain table maintenance on the sigs table,
    # refused at the refresh cadence, accepted strictly slower
    with pytest.raises(ValueError, match="strictly slower"):
        CadenceRunner.for_table_maintenance(
            sigs_tx, slower_than=[r], clock=clk, sleep=clk.sleep
        )
    m = CadenceRunner.for_table_maintenance(
        sigs_tx,
        optimize={"target_file_rows": 10_000},
        vacuum_min_age_s=0.0,
        slower_than=[r],
        interval_s=2 * 86_400.0,
        clock=clk,
        sleep=clk.sleep,
    )
    rows_before = sorted(map(tuple, sigs_tx.read().collect()))
    m.run(max_cycles=1)
    assert m.failures == 0
    assert sorted(map(tuple, sigs_tx.read().collect())) == rows_before
    pairs_vs_adhoc()

    # ADVICE r13: a raw 0/negative dependency interval would pass
    # float() silently and make the slower-than check vacuous
    for bad in (0, -5.0):
        with pytest.raises(ValueError, match="positive refresh"):
            CadenceRunner.for_table_maintenance(
                sigs_tx, slower_than=[bad], clock=clk, sleep=clk.sleep
            )


def test_cadence_hyperplane_index_refresh(spark, tmp_path):
    """r14: for_hyperplane_index_refresh — scheduler wiring for the
    CDC-maintained embedding near-dup index, on the minhash runner's
    contract: tick 1 initializes, a quiet tick no-ops, a post-DML
    tick folds; pairs served from the maintained index equal the
    ad-hoc blocked tier on the current corpus after every advancing
    tick."""
    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    rng = np.random.default_rng(67)

    def frame(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    src = TxTable.create(
        spark, str(tmp_path / "hp_src"), frame(range(24)),
        stats_columns=["vec_id"],
    )
    idx = str(tmp_path / "hp_idx")
    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_hyperplane_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"num_planes": 3, "dim": 8},
        clock=clk,
        sleep=clk.sleep,
    )

    def pairs_vs_adhoc():
        cur = src.read()
        want = sorted(
            map(
                tuple,
                sim.cosine_near_dup_pairs(
                    cur, threshold=0.2, bucket_planes=3, dim=8
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                sim.hyperplane_index_pairs(spark, idx, threshold=0.2)
                .collect(),
            )
        )
        assert got == want

    sigs_tx = TxTable(spark, f"{idx}/sigs_tx")
    r.run(max_cycles=1)  # init
    assert r.failures == 0 and sigs_tx.read().count() == 24
    pairs_vs_adhoc()

    hist = len(sigs_tx.history())
    r.run(max_cycles=2)  # quiet: source unchanged, no new commit
    assert r.failures == 0 and len(sigs_tx.history()) == hist

    src.delete(F.col("vec_id") % 6 == 1)
    src.append(frame(range(50, 56)))
    r.run(max_cycles=3)  # fold
    assert r.failures == 0
    pairs_vs_adhoc()


def test_maintained_lifecycle_end_to_end(spark, tmp_path):
    """r13 (VERDICT r12 #6): ONE scheduled scenario composing every
    cadence on one index — refresh folds (for_index_refresh), the
    OPTIMIZE policy (optimize_every=2), a drift REBUILD (rebuild_if),
    and table MAINTENANCE (for_table_maintenance: OPTIMIZE +
    expire_log + vacuum on the postings TxTable) — with exhaustive
    probe == brute force asserted after every stage, real file
    reclamation at the vacuum stage, and the maintenance-slower-than-
    refresh contract REFUSED AT CONSTRUCTION when violated."""
    import glob as _glob

    import numpy as np

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        similarity as sim,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    rng = np.random.default_rng(53)

    def frame(ids, axes):
        rows = []
        for i in ids:
            v = [0.0] * 8
            v[axes[i % len(axes)]] = 1.0
            rows.append(
                (i, [float(x + 0.01 * n) for x, n in zip(v, rng.normal(size=8))])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    src = TxTable.create(
        spark, str(tmp_path / "lc_src"), frame(range(32), axes=[0, 1, 2, 3])
    )
    idx = str(tmp_path / "lc_idx")
    postings = TxTable(spark, f"{idx}/postings_tx")
    fire = {"now": False}

    clk = _FakeClock(t0=0.0)
    runner = CadenceRunner.for_index_refresh(
        spark,
        src,
        idx,
        refresh_kwargs={"n_lists": 4, "n_iter": 4, "seed": 53},
        optimize_every=2,
        rebuild_if=lambda s, p: fire["now"],
        clock=clk,
        sleep=clk.sleep,
    )

    def probe_vs_brute():
        cur = src.read()
        queries = cur.limit(2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = sorted(
            map(
                tuple,
                sim.ivf_index_topk(spark, idx, queries, k=4, n_probe=4).collect(),
            )
        )
        want = sorted(
            map(tuple, sim.brute_force_topk(cur, queries, k=4).collect())
        )
        assert got == want

    # the contract check: a maintenance cadence at (or faster than)
    # the refresh cadence is refused before the first tick
    with pytest.raises(ValueError, match="strictly slower"):
        CadenceRunner.for_table_maintenance(
            postings, slower_than=[runner], clock=clk, sleep=clk.sleep
        )
    maint = CadenceRunner.for_table_maintenance(
        postings,
        optimize={"target_file_rows": 10_000, "sort_by": ["_list"]},
        vacuum_min_age_s=0.0,  # no concurrent writers in the test
        slower_than=[runner],
        interval_s=2 * 86_400.0,
        clock=clk,
        sleep=clk.sleep,
    )

    # stage 1: refresh (init) -> stage 2: fold + OPTIMIZE policy
    runner.run(max_cycles=1)
    probe_vs_brute()
    src.append(frame(range(100, 108), axes=[0, 1, 2, 3]))
    runner.run(max_cycles=2)
    assert runner.failures == 0
    assert [h["operation"] for h in postings.history()][-1] == "OPTIMIZE"
    probe_vs_brute()

    # stage 3: drift + REBUILD (atomic swap, marker at source head)
    src.delete(F.lit(True))
    src.append(frame(range(200, 240), axes=[4, 5, 6, 7]))
    fire["now"] = True
    runner.run(max_cycles=3)
    fire["now"] = False
    assert runner.failures == 0
    assert postings.snapshot().txns.get(sim._CENTROIDS_TXN) == src.latest_version()
    probe_vs_brute()

    # churn folds past the checkpoint interval so maintenance has a
    # checkpoint AFTER the rebuild to expire the pre-rebuild era below
    base = 300
    while postings.latest_version() < 11:
        src.append(frame(range(base, base + 2), axes=[4, 5, 6, 7]))
        base += 2
        runner.run(max_cycles=runner.cycles_run + 1)
    assert runner.failures == 0
    probe_vs_brute()

    # stage 4: table maintenance — compaction + log expiry + REAL
    # reclamation (the rebuild's overwrite unreferenced every
    # pre-rebuild file; once expire_log cuts below a post-rebuild
    # checkpoint, vacuum may reclaim them)
    def on_disk():
        return {
            os.path.basename(p)
            for p in _glob.glob(f"{idx}/postings_tx/*.parquet")
        }

    disk_before = len(on_disk())
    rows_before = sorted(map(tuple, postings.read().collect()))
    maint.run(max_cycles=1)
    assert maint.failures == 0
    assert len(on_disk()) < disk_before  # dead pre-rebuild files gone
    assert sorted(map(tuple, postings.read().collect())) == rows_before
    probe_vs_brute()

    # the lifecycle keeps going after maintenance: fold + probe exact
    src.append(frame(range(900, 904), axes=[4, 5, 6, 7]))
    runner.run(max_cycles=runner.cycles_run + 1)
    assert runner.failures == 0
    probe_vs_brute()


def test_cadence_table_maintenance_compacts_expires_vacuums(spark, tmp_path):
    """r12: for_table_maintenance — scheduled OPTIMIZE + expire_log +
    vacuum, the retention driver whose cadence must stay slower than
    any refresh that time-travels into the table. One tick compacts
    small files, cuts the log below the newest checkpoint, and
    reclaims files no retained version references; rows never change;
    a failed tick retries at the next cadence."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
        TxTable,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.streaming.runner import (
        CadenceRunner,
    )

    t = TxTable.create(
        spark,
        str(tmp_path / "mt"),
        spark.createDataFrame([(0, 0)], "k long, v long").coalesce(1),
    )
    # 12 tiny appends: small-file problem + a checkpoint at v10
    for i in range(1, 13):
        t.append(
            spark.createDataFrame([(i, i)], "k long, v long").coalesce(1)
        )
    rows_before = sorted(map(tuple, t.read().collect()))
    files_before = len(t.snapshot().files)
    assert files_before == 13

    clk = _FakeClock(t0=0.0)
    r = CadenceRunner.for_table_maintenance(
        t,
        optimize={"target_file_rows": 1000},
        vacuum_min_age_s=0.0,  # no concurrent writers in the test
        clock=clk,
        sleep=clk.sleep,
    )
    r.run(max_cycles=1)
    assert r.failures == 0
    # compacted to one file, rows identical
    assert len(t.snapshot().files) == 1
    assert sorted(map(tuple, t.read().collect())) == rows_before
    # log cut below the newest checkpoint; pre-cut time travel now
    # raises (the retention contract the refreshers guard against)
    assert min(t._versions()) >= 10
    with pytest.raises(ValueError, match="does not exist"):
        t.snapshot(0)
    # vacuum reclaimed NOTHING yet: the v10 checkpoint and retained
    # versions 10-12 still reference the pre-compaction files — the
    # cross-tick convergence property (time travel inside retention
    # never breaks)
    import glob as _glob

    def on_disk():
        return {
            os.path.basename(p)
            for p in _glob.glob(str(tmp_path / "mt" / "*.parquet"))
        }

    assert len(on_disk()) == files_before + 1  # 13 small + the compacted

    # drive a LATER checkpoint past the compaction; the next tick's
    # expire_log drops the old era and vacuum reclaims its files
    for i in range(13, 21):
        t.append(
            spark.createDataFrame([(i, i)], "k long, v long").coalesce(1)
        )
    r.run(max_cycles=2)
    assert r.failures == 0
    live = set(t.snapshot().files)
    assert live <= on_disk()
    assert len(on_disk()) < files_before  # dead small files reclaimed
    assert sorted(map(tuple, t.read().collect())) == sorted(
        rows_before + [(i, i) for i in range(13, 21)]
    )


class _FileBackedCollection:
    """pymongo Collection surface whose state is DISK (one O_EXCL file
    per ``_id``), so Spark executor processes and the test process see
    the same store — the piece the in-memory _FakeDatabase can't do."""

    def __init__(self, root, name):
        self.dir = os.path.join(root, name)

    def insert_many(self, docs, ordered=True):
        os.makedirs(self.dir, exist_ok=True)
        dup_errors, inserted = [], []
        for i, d in enumerate(docs):
            path = os.path.join(self.dir, f"{d['_id']}.json")
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                dup_errors.append({"index": i, "code": 11000})
                if ordered:
                    break
                continue
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(json.dumps(d, default=str))
            inserted.append(d["_id"])
        if dup_errors:
            raise _FakeBulkWriteError({"writeErrors": dup_errors})
        return _FakeBulkResult(inserted)


class _FileBackedDatabase:
    """pymongo Database surface over _FileBackedCollection."""

    def __init__(self, root):
        self.root = root

    def __getitem__(self, name):
        return _FileBackedCollection(self.root, name)

    def drop_collection(self, name):
        cdir = os.path.join(self.root, name)
        if os.path.isdir(cdir):
            for f in os.listdir(cdir):
                os.unlink(os.path.join(cdir, f))


def test_mongo_adapter_drives_write_documents_end_to_end(spark, tmp_path):
    """r9 (VERDICT r8 #9): the pymongo adapter boundary must drive the
    SAME executor-side write_documents path the JsonLines client does —
    foreachPartition on real executor processes, adapter constructed in
    the factory, duplicate-key swallowing making re-runs exactly-once.
    No network: the Database surface is file-backed."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
        MongoDatabaseAdapter,
        full_refresh_write,
    )

    root = str(tmp_path / "mongostore")
    df = (
        read_testdata(spark, SF_SMOKE, "events")
        .select("event_id", "event_type")
        .limit(30)
        .repartition(4)  # several executor partitions hit one store
    )
    factory = lambda: MongoDatabaseAdapter(_FileBackedDatabase(root))  # noqa: E731
    write_documents(df, "calls", factory, retry_sleep_s=0.0)
    assert len(os.listdir(os.path.join(root, "calls"))) == 30
    # whole-job re-run (task re-execution in the large): adapter
    # swallows the 11000 writeErrors, store stays exactly-once
    write_documents(df, "calls", factory, retry_sleep_s=0.0)
    assert len(os.listdir(os.path.join(root, "calls"))) == 30
    # full refresh drops through the SAME adapter surface then reloads
    full_refresh_write(df.limit(10), "calls", factory, retry_sleep_s=0.0)
    assert len(os.listdir(os.path.join(root, "calls"))) == 10


def test_pymongo_client_factory_wiring(monkeypatch):
    """r9 (VERDICT r8 #9): pymongo_client_factory must (a) return None
    when pymongo is absent (this env), and (b) with a pymongo module
    present, construct MongoClient(uri), health-ping admin, select the
    named db and wrap it in MongoDatabaseAdapter — proving the real
    factory drives the same adapter the end-to-end test exercises."""
    import sys
    import types

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources import docsink

    sys.modules.pop("pymongo", None)
    assert docsink.pymongo_client_factory("mongodb://x", "cfs") is None

    calls = {}

    class _FakeAdmin:
        def command(self, name):
            calls["ping"] = name

    class _FakeMongoClient:
        def __init__(self, uri):
            calls["uri"] = uri
            self.admin = _FakeAdmin()

        def __getitem__(self, name):
            calls["db"] = name
            return _FakeDatabase()

    fake = types.ModuleType("pymongo")
    fake.MongoClient = _FakeMongoClient
    monkeypatch.setitem(sys.modules, "pymongo", fake)
    make = docsink.pymongo_client_factory("mongodb://host:27017", "cfs")
    client = make()
    assert isinstance(client, docsink.MongoDatabaseAdapter)
    assert calls == {"uri": "mongodb://host:27017", "ping": "ping", "db": "cfs"}
    # the returned adapter serves the sink's client surface directly
    assert client.insert_many("calls", [{"_id": "a"}, {"_id": "b"}]) == 2
