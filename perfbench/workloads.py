"""The benchmark's workloads: seeded batch jobs that drive the engine's
public functions from outside the package. Each exposes the same
surface to the runner:

- ``setup(work_dir)``: generate inputs from the seed under ``work_dir``
  (timed, repeated by the runner);
- ``op(i)``: run job ``i`` and return its wall time in seconds — with
  tracing on, first force each lazy pipeline prefix through the
  ``noop`` sink so per-layer self times are prefix differences;
- ``check()``: verify the engine's outputs, ``(ok, detail)``;
- ``layer_metrics()``: per-layer figures from the traced spans;
- ``serve()``: with ``SERVES``, a phase a traced run runs once after
  the measured jobs; returns its timed part in seconds.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions.temporal import (
    minutes_between,
    parse_timestamps,
    with_date_parts,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.aggregates import (
    group_agg_single_distinct,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_on_pairs,
    latest_per_key,
    lsh_candidate_pairs,
    minhash_signatures,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.ivm import (
    finalize_state,
    refresh_view,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.similarity import (
    ivf_index_topk,
    refresh_ivf_index,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.text import (
    add_text_stats,
    gopher_pass,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.docsink import (
    JsonLinesClient,
    full_refresh_write,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.files import (
    write_parquet,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.rest import (
    SocrataSource,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import (
    TxTable,
)

from . import checks, gen

# every per-layer metric: (name, unit). A layer a workload does not
# exercise reports 0 on it.
LAYER_METRICS = [
    ("sources.rest.self_s", "s"),
    ("sources.rest.partitions", "count"),
    ("sources.rest.rows", "count"),
    ("functions.temporal.self_s", "s"),
    ("operators.dedup.window_self_s", "s"),
    ("operators.dedup.window_shuffle_mb", "MB"),
    ("operators.dedup.exact_self_s", "s"),
    ("operators.dedup.minhash_self_s", "s"),
    ("operators.dedup.lsh_self_s", "s"),
    ("operators.dedup.verify_self_s", "s"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.pair_precision", "ratio"),
    ("operators.dedup.cc_self_s", "s"),
    ("operators.dedup.cc_jobs", "count"),
    ("operators.dedup.keep_self_s", "s"),
    ("operators.dedup.cluster_recall", "ratio"),
    ("operators.aggregates.self_s", "s"),
    ("operators.aggregates.shuffle_mb", "MB"),
    ("operators.text.self_s", "s"),
    ("operators.text.kept_ratio", "ratio"),
    ("sources.docsink.self_s", "s"),
    ("sources.docsink.docs", "count"),
    ("sources.docsink.attempts_per_partition", "ratio"),
    ("sources.files.self_s", "s"),
    ("sources.files.bytes_written_per_input_byte", "ratio"),
    ("sources.txtable.create_self_s", "s"),
    ("sources.txtable.merge_ms", "ms"),
    ("sources.txtable.files_rewritten_per_merge", "count"),
    ("sources.txtable.snapshot_ms", "ms"),
    ("sources.txtable.log_versions", "count"),
    ("sources.txtable.point_read_ms", "ms"),
    ("sources.txtable.files_kept_ratio", "ratio"),
    ("sources.txtable.bytes_written_per_input_byte", "ratio"),
    ("operators.similarity.build_ms", "ms"),
    ("operators.similarity.refresh_ms", "ms"),
    ("operators.similarity.probe_plan_ms", "ms"),
    ("operators.similarity.probe_exec_ms", "ms"),
    ("operators.similarity.probe_input_mb", "MB"),
    ("operators.ivm.build_ms", "ms"),
    ("operators.ivm.refresh_ms", "ms"),
    ("session.jobs_per_op", "count"),
    ("session.tasks_per_op", "count"),
    ("session.gc_s", "s"),
    ("trace.job_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.self_coverage", "ratio"),
]

_MB = 1 << 20


def _noop(df) -> None:
    """Force a lazy plan through the ``noop`` sink (executes it fully,
    writes nothing)."""
    df.write.format("noop").mode("overwrite").save()


def _force_prefixes(tr, names, plans, pre=None) -> None:
    """Force each cumulative pipeline prefix through the ``noop`` sink,
    one span each. A plan over the same source (``pre``, by default the
    first prefix) runs once untimed before: the first plan forced after
    a job pays a one-off cost (measured ~1 s on the REST source) that
    would otherwise land on its layer."""
    _noop(plans[0] if pre is None else pre)
    for name, df in zip(names, plans):
        with tr.span(f"prefix:{name}"):
            _noop(df)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def _lines(pattern: str) -> int:
    """Total line count of the files matching ``pattern``."""
    n = 0
    for p in glob.glob(pattern):
        with open(p, encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _blocking(m: dict) -> float:
    """Sum of the per-layer self times (``*self_s``) on a batch job's
    blocking path. They partition the job by construction (prefix
    differences), so the sum falls short of the traced job time only
    where a difference came out negative."""
    return sum(max(0.0, v) for k, v in m.items() if k.endswith("self_s"))


class CountingClient(JsonLinesClient):
    """JsonLinesClient that records every insert attempt (one line per
    call, in a per-process file) before delegating — counts docsink
    retries from outside the package."""

    def insert_many(self, collection, docs):
        os.makedirs(os.path.join(self.root, "_attempts"), exist_ok=True)
        path = os.path.join(self.root, "_attempts", f"{os.getpid()}.log")
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(f"{collection}\n")
        return super().insert_many(collection, docs)


class _Workload:
    name = ""
    rows_name = ""  # what one input row is, for rows_per_s
    SERVES = False
    SERVE_RESERVE_S = 0.0  # run time kept for the serve phase

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.input_rows = 0

    def _self(self, name: str) -> list[float]:
        return [s.seconds for s in self.tr.named(name)]

    def _count(self, name: str, key: str) -> list[int]:
        return [s.counts.get(key, 0) for s in self.tr.named(name)]


# ---------------------------------------------------------------------------
# cfs_daily_etl
# ---------------------------------------------------------------------------

_CFS_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType())
        for c in gen.CFS_COLUMNS
    ]
)


class CfsDailyEtl(_Workload):
    """The reference's daily job: REST ingest (fixture mode) → parse,
    durations, date parts → latest record per event → multi-key
    aggregate → parquet + document-store full refresh."""

    name = "cfs_daily_etl"
    rows_name = "rows"
    N_EVENTS = 40_000
    WARMUP_END = "2021-01-31"  # the warm-up job reads the first window only
    PREFIXES = (
        "sources.rest",
        "functions.temporal",
        "operators.dedup.window",
        "operators.aggregates",
    )

    def setup(self, work: str) -> None:
        self.work = work
        table = gen.cfs_calls(self.seed, self.N_EVENTS)
        self.fixture = os.path.join(work, "cfs_raw.parquet")
        pq.write_table(table, self.fixture, row_group_size=8192)
        self.input_rows = table.num_rows
        self.input_bytes = os.path.getsize(self.fixture)
        self.spark.dataSource.register(SocrataSource)
        self.docs_root = os.path.join(work, "docstore")
        self.out = None
        self.rest_rows = 0

    def _plans(self, end: str):
        raw = (
            self.spark.read.format("socrata_cfs")
            .option("mode", "fixture")
            .option("fixture_path", self.fixture)
            .option("ts_column", "create_time_incident")
            .option("start", gen.CFS_START.isoformat())
            .option("end", end)
            .option("schema_json", _CFS_SCHEMA.json())
            .load()
        )
        parsed = parse_timestamps(raw)
        durations = {
            f"dur_{d}": minutes_between(e, s)
            for d, (e, s) in checks.CFS_DURATIONS.items()
        }
        timed = with_date_parts(
            parsed.withColumns(durations), "create_time_incident"
        )
        latest = latest_per_key(
            timed,
            keys=["event_number"],
            order_by="create_time_incident",
            keep_where_not_null="district",
        )
        int_sums = {}
        for d in checks.CFS_DURATIONS:
            c = F.col(f"dur_{d}")
            int_sums[f"cmin_{d}"] = F.round(c * 100).cast("long")
            int_sums[f"n_{d}"] = F.when(c.isNotNull(), 1).otherwise(0).cast("long")
        agg = group_agg_single_distinct(
            latest,
            keys=list(checks.CFS_KEYS),
            distinct_col="event_number",
            int_sums=int_sums,
            count_alias="n_rows",
        )
        return raw, timed, latest, agg

    def op(self, i: int, warmup: bool = False):
        # warm-up: the first monthly window only — compiles every stage
        # at a fraction of a cold full job
        plans = self._plans(self.WARMUP_END if warmup else gen.CFS_END.isoformat())
        if self.tr.enabled:
            # the untimed pre-run reads the warm-up window only
            _force_prefixes(
                self.tr, self.PREFIXES, plans, pre=self._plans(self.WARMUP_END)[0]
            )
            if not self.rest_rows:
                # the rows the source really yields, once, untimed
                self.rest_rows = plans[0].count()
        out = os.path.join(self.work, f"agg_{i}.parquet")
        root = self.docs_root
        # insert attempts are counted per job
        shutil.rmtree(os.path.join(root, "_attempts"), ignore_errors=True)
        t0 = time.perf_counter()
        with self.tr.span("sources.files.write"):
            write_parquet(plans[-1], out)
        with self.tr.span("sources.docsink.write"):
            full_refresh_write(
                self.spark.read.parquet(out),
                "cfs_agg",
                lambda: CountingClient(root),
                retry_sleep_s=0.0,
            )
        dt = time.perf_counter() - t0
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = out
        return dt

    def _docs(self) -> int:
        return _lines(os.path.join(self.docs_root, "cfs_agg", "*.jsonl"))

    def check(self):
        return checks.check_cfs(
            self.fixture, os.path.join(self.out, "*.parquet"), self._docs()
        )

    def layer_metrics(self):
        pre = {n: _median(self._self(f"prefix:{n}")) for n in self.PREFIXES}
        # shuffle bytes from the real job's stages: the first stage
        # writes the window's shuffle, every later one an aggregate
        # level's (prefix differences would mix in column pruning)
        stages = self._count("sources.files.write", "stage_shuffle_write_bytes")
        files = _median(self._self("sources.files.write"))
        docsink = _median(self._self("sources.docsink.write"))
        attempts = _lines(os.path.join(self.docs_root, "_attempts", "*.log"))
        parts = len(glob.glob(os.path.join(self.docs_root, "cfs_agg", "*.jsonl")))
        m = {
            "sources.rest.self_s": pre["sources.rest"],
            "sources.rest.partitions": _median(
                self._count("prefix:sources.rest", "tasks")),
            "sources.rest.rows": self.rest_rows,
            "functions.temporal.self_s": pre["functions.temporal"] - pre["sources.rest"],
            "operators.dedup.window_self_s":
                pre["operators.dedup.window"] - pre["functions.temporal"],
            "operators.dedup.window_shuffle_mb":
                _median([s[0] for s in stages if s]) / _MB,
            "operators.aggregates.self_s":
                pre["operators.aggregates"] - pre["operators.dedup.window"],
            "operators.aggregates.shuffle_mb":
                _median([sum(s[1:]) for s in stages if s]) / _MB,
            "sources.files.self_s": files - pre["operators.aggregates"],
            "sources.files.bytes_written_per_input_byte":
                _dir_bytes(self.out) / self.input_bytes,
            "sources.docsink.self_s": docsink,
            "sources.docsink.docs": self._docs(),
            # both from the last job: one part file per written partition
            "sources.docsink.attempts_per_partition": attempts / max(1, parts),
        }
        return m, _blocking(m)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

_SERVED = ("doc_id", "text", "n_tokens", "bucket", "embedding")


class CorpusCuration(_Workload):
    """LLM-data curation: quality stats + Gopher filter → exact dedup →
    MinHash → LSH candidates → exact Jaccard verification → connected
    components → one doc per component → TxTable write, one job each.

    A traced run then serves the last job's output once: it is copied
    into a table with a CDC feed and a bloom filter on ``doc_id``, an
    IVF index and an aggregate view are built on it, a change batch is
    MERGEd and folded into both, and top-k probes and point reads run
    on the result."""

    name = "corpus_curation"
    rows_name = "docs"
    SERVES = True
    SERVE_RESERVE_S = 20.0
    N_BASE = 3000
    SHARDS = 8
    THRESHOLD = 0.7
    NUM_HASHES = 16
    N_LISTS = 8
    N_PROBE = 2
    K = 10
    N_PROBES = 4
    N_POINTS = 2
    N_UPSERTS = 40
    N_DELETES = 20
    EXHAUSTIVE_SAMPLE = 3
    PREFIXES = (
        "operators.text",
        "operators.dedup.exact",
        "operators.dedup.minhash",
        "operators.dedup.lsh",
        "operators.dedup.verify",
    )

    def setup(self, work: str) -> None:
        self.work = work
        self.corpus = gen.corpus(self.seed, self.N_BASE)
        self.changes = gen.serve_changes(
            self.seed, self.corpus, self.N_UPSERTS, self.N_DELETES,
            self.N_PROBES, self.N_POINTS,
        )
        # a corpus arrives sharded: one file per shard, so the scan
        # splits across every core
        self.path = os.path.join(work, "corpus")
        os.makedirs(self.path)
        table = pa.table({
            "doc_id": pa.array(self.corpus.ids, pa.int64()),
            "text": pa.array(self.corpus.texts, pa.string()),
            "embedding": pa.array(list(self.corpus.embeddings), pa.list_(pa.float32())),
        })
        step = -(-table.num_rows // self.SHARDS)
        for s in range(self.SHARDS):
            pq.write_table(
                table.slice(s * step, step),
                os.path.join(self.path, f"part-{s:03d}.parquet"),
            )
        self.input_rows = table.num_rows
        self.input_bytes = _dir_bytes(self.path)
        self.out = None
        self.result = None
        self.counts: dict[str, int] = {}
        self.idx_path = os.path.join(work, "ivf")
        self.view_path = os.path.join(work, "view")
        self.served = None
        self.snap_ms = self.kept_ratio = 0.0

    def _plans(self, shards: int):
        paths = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        docs = self.spark.read.parquet(*paths[:shards])
        kept = add_text_stats(docs).filter(gopher_pass("text") == 1)
        keep_ids = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
        uniq = kept.join(keep_ids, "doc_id", "left_semi")
        sigs = minhash_signatures(uniq, num_hashes=self.NUM_HASHES)
        cands = lsh_candidate_pairs(sigs, num_hashes=self.NUM_HASHES, band_size=2)
        pairs = jaccard_on_pairs(cands, uniq, threshold=self.THRESHOLD)
        return docs, (kept, uniq, sigs, cands, pairs)

    def op(self, i: int, warmup: bool = False):
        # the previous job's cached kept set must go first: the cache is
        # matched by plan, so this job would otherwise reuse it
        if self.result is not None:
            self.result[0].unpersist()
        # warm-up: one shard
        docs, plans = self._plans(1 if warmup else self.SHARDS)
        uniq, pairs = plans[1], plans[-1]
        if self.tr.enabled:
            _force_prefixes(self.tr, self.PREFIXES, plans)
        out = os.path.join(self.work, f"curated_{i}")
        t0 = time.perf_counter()
        # the kept set feeds both the pair search and the final join back:
        # cache it (filled by the first CC round) instead of recomputing
        # the text stats and the exact dedup for the write
        uniq.persist()
        with self.tr.span("operators.dedup.cc"):
            comps = connected_components(pairs)
        final = (
            uniq.join(comps, uniq["doc_id"] == comps["node"], "left")
            .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
            .withColumn("bucket", F.floor(F.col("n_tokens") / 20).cast("int"))
            .select(*_SERVED)
        )
        dt = time.perf_counter() - t0
        if self.tr.enabled:
            with self.tr.span("prefix:operators.dedup.keep"):
                _noop(final)
        t1 = time.perf_counter()
        with self.tr.span("sources.txtable.create"):
            TxTable.create(self.spark, out, final)
        dt += time.perf_counter() - t1
        if self.tr.enabled and not self.counts:
            # counts for the ratios, once, outside every timed region
            self.counts = {
                "docs": docs.count(),
                "kept": plans[0].count(),
                "cands": plans[3].count(),
                "pairs": pairs.count(),
            }
        # kept cached until the next job, so the check re-derives the
        # reported pairs without recomputing the text stages
        self.result = (uniq, pairs, comps)
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = out
        self.out_bytes = _dir_bytes(out)
        return dt

    def _probe(self, qid: int, q, n_probe: int):
        vec = ",".join(f"CAST({float(x)!r} AS FLOAT)" for x in q)
        queries = self.spark.sql(f"SELECT {qid}L AS query_id, array({vec}) AS query_vec")
        return ivf_index_topk(
            self.spark, self.idx_path, queries, k=self.K, n_probe=n_probe,
            id_col="doc_id", vec_col="embedding", dim=gen.EMBED_DIM,
        )

    def _refresh_index(self):
        refresh_ivf_index(
            self.spark, self.served, self.idx_path, n_lists=self.N_LISTS,
            id_col="doc_id", vec_col="embedding",
        )

    def _refresh_view(self):
        refresh_view(
            self.spark, self.served, self.view_path,
            keys=["bucket"], sums=["n_tokens"], feed_key="doc_id",
        )

    def serve(self) -> float:
        """Serve the last job's output once; returns the wall time of the
        change batch and the reads (the copy and the builds excluded)."""
        ch = self.changes
        self.served = TxTable.create(
            self.spark,
            os.path.join(self.work, "served"),
            TxTable(self.spark, self.out).read(),
            stats_columns=["doc_id"],
            bloom_columns=["doc_id"],
            change_data_feed=True,
        )
        with self.tr.span("operators.similarity.build"):
            self._refresh_index()
        with self.tr.span("operators.ivm.build"):
            self._refresh_view()
        new_vecs = self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ch.upserts, ch.vectors)],
            "doc_id long, embedding array<float>",
        )
        cur = self.served.read()
        changes = (
            cur.join(new_vecs.withColumnRenamed("embedding", "_new"), "doc_id")
            .withColumn("embedding", F.col("_new"))
            .withColumn("op", F.lit(None).cast("string"))
            .select(*_SERVED, "op")
            .unionByName(
                cur.filter(F.col("doc_id").isin(list(ch.deletes)))
                .withColumn("op", F.lit("D")).select(*_SERVED, "op")
            )
        )
        t0 = time.perf_counter()
        with self.tr.span("sources.txtable.merge"):
            self.served.merge(changes, key="doc_id")
        with self.tr.span("operators.similarity.refresh"):
            self._refresh_index()
        with self.tr.span("operators.ivm.refresh"):
            self._refresh_view()
        for qid, q in enumerate(ch.queries):
            with self.tr.span("operators.similarity.probe_plan"):
                df = self._probe(qid, q, self.N_PROBE)
            with self.tr.span("operators.similarity.probe_exec"):
                rows = df.collect()
            if len(rows) != self.K:
                raise RuntimeError(f"probe {qid} returned {len(rows)} rows")
        for point in ch.points:
            with self.tr.span("sources.txtable.point_read"):
                rows = self.served.read_point("doc_id", point).collect()
            if [r["doc_id"] for r in rows] != [point]:
                raise RuntimeError(f"point read of {point} returned {len(rows)} rows")
        dt = time.perf_counter() - t0
        if self.tr.enabled:
            # outside every timed region: snapshot reconstruction and
            # bloom skipping
            t = time.perf_counter()
            snap = self.served.snapshot()
            self.snap_ms = (time.perf_counter() - t) * 1e3
            self.kept_ratio = _median([
                len(self.served.bloom_keep_files("doc_id", p)) / max(1, len(snap.files))
                for p in ch.points
            ])
        return dt

    def check(self):
        uniq, pairs_df, comps_df = self.result
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs_df.collect()]
        comps = {r["node"]: r["component"] for r in comps_df.collect()}
        unique = [r["doc_id"] for r in uniq.select("doc_id").collect()]
        kept = [
            r["doc_id"]
            for r in TxTable(self.spark, self.out).read().select("doc_id").collect()
        ]
        texts = dict(zip(self.corpus.ids, self.corpus.texts))
        ok, detail, self.recall = checks.check_curation(
            texts, self.corpus, pairs, comps, unique, kept, self.THRESHOLD
        )
        problems = [] if ok else [detail]
        if self.served is None:
            return ok, detail
        # served rows: the kept docs after the change batch, as generated
        ch = self.changes
        emb = dict(zip(self.corpus.ids, self.corpus.embeddings))
        emb.update(zip(ch.upserts, ch.vectors))
        want = set(kept) - set(ch.deletes)
        served = self.served.read().collect()
        if {r["doc_id"] for r in served} != want or len(served) != len(want):
            problems.append("served ids differ from the kept docs after the change batch")
        elif any(
            r["text"] != texts[r["doc_id"]]
            or list(r["embedding"]) != emb[r["doc_id"]].tolist()
            for r in served
        ):
            problems.append("served rows differ from the generated docs")
        ids = np.array([r["doc_id"] for r in served], dtype=np.int64)
        vecs = np.stack([emb[int(i)] for i in ids])
        bad = 0
        for qid in range(self.EXHAUSTIVE_SAMPLE):
            q = ch.queries[qid]
            rows = self._probe(qid, q, self.N_LISTS).collect()
            ranked = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
            if not checks.check_topk(ranked, ids, vecs, q, self.K):
                bad += 1
        if bad:
            problems.append(f"{bad} exhaustive probes differ from brute force")
        view = {
            r["bucket"]: (r["n_rows"], r["sum_n_tokens"])
            for r in finalize_state(
                TxTable(self.spark, self.view_path).read(), ["bucket"], sums=["n_tokens"]
            ).collect()
        }
        if not checks.check_view(view, [(r["bucket"], r["n_tokens"]) for r in served]):
            problems.append("view differs from a recompute")
        if problems:
            return False, "; ".join(problems)
        return True, (
            f"{detail}; {len(served)} served rows match the change batch, "
            f"{self.EXHAUSTIVE_SAMPLE} exhaustive probes exact, view exact"
        )

    def layer_metrics(self):
        pre = {n: _median(self._self(f"prefix:{n}")) for n in self.PREFIXES}
        keep = _median(self._self("prefix:operators.dedup.keep"))
        cc = _median(self._self("operators.dedup.cc"))
        create = _median(self._self("sources.txtable.create"))
        execs = self.tr.named("operators.similarity.probe_exec")
        # files a MERGE rewrote = files of the previous snapshot that its
        # own snapshot no longer holds
        rewritten = []
        for h in self.served.history() if self.served else ():
            if h["operation"] == "MERGE":
                before = set(self.served.snapshot(h["version"] - 1).files)
                after = set(self.served.snapshot(h["version"]).files)
                rewritten.append(len(before - after))
        ms = lambda name: _median(self._self(name)) * 1e3  # noqa: E731
        c = self.counts
        m = {
            "operators.text.self_s": pre["operators.text"],
            "operators.text.kept_ratio": c["kept"] / c["docs"],
            "operators.dedup.exact_self_s":
                pre["operators.dedup.exact"] - pre["operators.text"],
            "operators.dedup.minhash_self_s":
                pre["operators.dedup.minhash"] - pre["operators.dedup.exact"],
            "operators.dedup.lsh_self_s":
                pre["operators.dedup.lsh"] - pre["operators.dedup.minhash"],
            "operators.dedup.verify_self_s":
                pre["operators.dedup.verify"] - pre["operators.dedup.lsh"],
            "operators.dedup.candidate_pairs": c["cands"],
            "operators.dedup.pair_precision": c["pairs"] / max(1, c["cands"]),
            "operators.dedup.cc_self_s": cc - pre["operators.dedup.verify"],
            "operators.dedup.cc_jobs": _median(self._count("operators.dedup.cc", "jobs")),
            # the keep prefix runs with the kept set cached: the join only
            "operators.dedup.keep_self_s": keep,
            "operators.dedup.cluster_recall": self.recall,
            "sources.txtable.create_self_s": create - keep,
            "sources.txtable.bytes_written_per_input_byte":
                self.out_bytes / self.input_bytes,
            # the serve phase
            "sources.txtable.merge_ms": ms("sources.txtable.merge"),
            "sources.txtable.files_rewritten_per_merge": _median(rewritten),
            "sources.txtable.snapshot_ms": self.snap_ms,
            "sources.txtable.log_versions":
                self.served.latest_version() + 1 if self.served else 0,
            "sources.txtable.point_read_ms": ms("sources.txtable.point_read"),
            "sources.txtable.files_kept_ratio": self.kept_ratio,
            "operators.similarity.build_ms": ms("operators.similarity.build"),
            "operators.similarity.refresh_ms": ms("operators.similarity.refresh"),
            "operators.similarity.probe_plan_ms": ms("operators.similarity.probe_plan"),
            "operators.similarity.probe_exec_ms":
                _median([s.seconds for s in execs]) * 1e3,
            "operators.similarity.probe_input_mb":
                _median([s.counts["input_bytes"] for s in execs]) / _MB,
            "operators.ivm.build_ms": ms("operators.ivm.build"),
            "operators.ivm.refresh_ms": ms("operators.ivm.refresh"),
        }
        return m, _blocking(m)


WORKLOADS = {w.name: w for w in (CfsDailyEtl, CorpusCuration)}
