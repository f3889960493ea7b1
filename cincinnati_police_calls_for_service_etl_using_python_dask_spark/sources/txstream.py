"""Structured Streaming SOURCE over the transactional table format
(sources/txtable.py) — the consumption half that pairs with the
format's exactly-once sink, closing the loop on table-to-table
incremental pipelines:

    raw = spark.readStream.format("txtable_stream").load(path_a)
    TxTable(spark, path_b).write_stream(transform(raw), ckpt, app_id)

Model (the public Delta-streaming-source concept, re-expressed for
this log protocol): **commit versions are the stream offsets**. A
micro-batch (start, end] expands to the add-actions of the
append-type commits in that version range — CREATE / APPEND /
STREAM_APPEND — one ``InputPartition`` per added data file, read
EXECUTOR-side with pyarrow and shipped to the JVM as Arrow batches
(never row-at-a-time Python). The driver only ever lists the log; at
production scale a micro-batch costs O(new files), never O(table).

Non-append commits (DELETE / MERGE / OVERWRITE / OPTIMIZE / RESTORE)
rewrite or mask EXISTING rows, which an append stream cannot
represent; hitting one raises by default. ``ignoreChanges=true``
skips those commits entirely (their adds are rewrites of already-
streamed rows — emitting them would duplicate; skipping means
downstream misses updates, the documented append-mostly trade).
A merge-on-read DELETE re-points files at a deletion-vector sidecar
without adding data, so under ``ignoreChanges`` it contributes
nothing — consistent with the skip semantics.

Schema: fixed at stream start from the table's latest metaData (the
engine's contract — a streaming query's schema cannot change mid-run).
Files that predate an additive evolution are NULL-filled to the
stream schema, exactly like the batch read path.

Reference note: the Dask reference (app.py:90-203) re-ingests the
full source window every scheduled run; this source is the
incremental spelling — each run drains only the commits it has not
seen, tracked by the engine's checkpoint, with exactly-once delivery
when paired with ``TxTable.write_stream``.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .txtable import TxTable, _version_path, local_path

APPEND_OPS = {"CREATE", "APPEND", "STREAM_APPEND"}


def _clone_dv_adds(op: str, actions: list[dict]) -> bool:
    """True when a CLONE commit carries deletion-vector'd external
    references (r9): its raw files contain rows the mask hides, so the
    per-file append read would resurrect them — such a clone is not
    representable as an insert stream (OPTIMIZE the clone to purge the
    DVs, or stream the SOURCE instead). A DV-less CLONE is exactly a
    CREATE: the initial snapshot as adds-only inserts.

    Clone-boundary contract (r10, VERDICT r9 #6): a clone RENUMBERS
    history from version 0 (the CLONE commit) — the source's
    pre-clone change history is not addressable through the clone, so
    never repoint an existing checkpoint (whose offsets are source
    version numbers) at a clone path; start a fresh checkpoint. Once
    the clone's own expire_log cuts above the clone point, a
    startingVersion reaching below the cut fails with the standard
    log-retention error (pinned in tests/test_txstream.py::
    test_cdc_starting_below_clone_retention_cut_fails_clearly) —
    never a silent empty stream."""
    return op == "CLONE" and any(
        a.get("add", {}).get("dv") for a in actions
    )


class _FilePartition(InputPartition):
    """One newly-added data file of one commit."""

    def __init__(self, path: str, num_records: int | None):
        self.path = path
        self.num_records = num_records


def _commit_actions(log: str, v: int) -> list[dict]:
    """Actions of commit ``v`` — with the log-retention error contract:
    a version expired by ``TxTable.expire_log`` surfaces as a clear
    RuntimeError (a stream whose startingVersion or checkpointed
    offset fell below the retention cut must fail loudly, not with a
    bare FileNotFoundError from the log internals)."""
    try:
        with open(_version_path(log, v)) as f:
            return [json.loads(line) for line in f]
    except FileNotFoundError:
        raise RuntimeError(
            f"txtable_stream: commit {v} is missing from the log at "
            f"{log} — it was expired by log retention (expire_log). "
            f"Restart the stream from a fresh checkpoint with "
            f"startingVersion at or above the oldest retained commit."
        ) from None


def _commit_op(actions: list[dict]) -> str:
    for a in actions:
        if "commitInfo" in a:
            return a["commitInfo"]["operation"]
    return "UNKNOWN"


def _resolve_start(opts: dict, table_path: str) -> int:
    """First version the stream should read: ``startingVersion``
    directly, or ``startingTimestamp`` (epoch ms) resolved to the
    earliest commit at-or-after that time — mutually exclusive, like
    the public Delta source options."""
    sv = opts.get("startingversion")
    st = opts.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if st is not None:
        return TxTable(None, table_path).version_at_or_after(int(st))
    if isinstance(sv, str) and sv.strip().lower() == "latest":
        # the Delta 'latest' spelling: only changes committed AFTER
        # stream start — skip the whole existing history
        return TxTable(None, table_path).latest_version() + 1
    return int(sv) if sv is not None else 0


class TxTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        # Spark hands options through a case-insensitive dict whose
        # plain-dict copy has LOWERCASED keys — look up accordingly
        opts = {str(k).lower(): v for k, v in options.items()}
        self.table_path = local_path(
            opts.get("path") or opts.get("tablepath") or ""
        ) or None
        if not self.table_path:
            raise ValueError("txtable_stream requires a 'path' option")
        self.schema = schema
        self.ignore_changes = str(
            opts.get("ignorechanges", "false")
        ).lower() in ("true", "1", "yes")
        self.starting_version = _resolve_start(opts, self.table_path)
        # maxVersionsPerTrigger: bound each micro-batch to N commits
        # (the Delta maxFilesPerTrigger concern at version granularity)
        # so a long backlog drains as a sequence of bounded batches
        # instead of one giant one. The cap base (`_planned`) is ONLY
        # ever set from offsets Spark actually handed us —
        # initialOffset() (fresh query, no checkpoint) or
        # partitions() — never guessed from startingVersion in
        # __init__. On a RESTART Spark skips initialOffset() and
        # resumes from its checkpointed offset, which the single-arg
        # latestOffset API never shows us; a startingVersion-derived
        # base could sit BELOW that checkpoint, and since Spark
        # compares offsets by equality only, returning it would plan a
        # batch that REGRESSES the commit log and replays
        # already-delivered commits. So after a restart the first
        # batch is unbounded (documented caveat) until partitions()
        # reveals the true start. `_planned` is monotonic (max-merged)
        # so latestOffset never moves backwards within a run.
        self.max_versions = int(opts.get("maxversionspertrigger", 0)) or None
        self._planned: int | None = None
        self.log = os.path.join(self.table_path, "_txlog")
        # column mapping: files store PHYSICAL names; resolution by
        # any snapshot's mapping is stable (physical names never move)
        try:
            self.column_mapping = dict(
                TxTable(None, self.table_path).snapshot().column_mapping
            )
        except FileNotFoundError:
            self.column_mapping = {}

    # -- offsets --------------------------------------------------------

    def initialOffset(self) -> dict:
        # Called only when the query has no checkpoint — here (and only
        # here) starting_version - 1 IS the engine's true start, so it
        # can seed the rate-limit cap base.
        self._planned = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        t = TxTable(None, self.table_path)
        latest = t.latest_version()
        if self.max_versions is not None and self._planned is not None:
            latest = min(latest, self._planned + self.max_versions)
        return {"version": latest}

    # -- planning (driver) ---------------------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        observed = max(start["version"], end["version"])
        self._planned = (
            observed if self._planned is None
            else max(self._planned, observed)
        )
        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            actions = _commit_actions(self.log, v)
            op = _commit_op(actions)
            if (op not in APPEND_OPS and op != "CLONE") or _clone_dv_adds(
                op, actions
            ):
                if self.ignore_changes:
                    continue
                raise RuntimeError(
                    f"txtable_stream: commit {v} is {op}"
                    f"{' with deletion-vector references' if op == 'CLONE' else ''},"
                    f" which rewrites existing rows — an append stream "
                    f"cannot represent it. Set ignoreChanges=true to "
                    f"skip such commits (downstream will miss the "
                    f"rewritten rows)."
                )
            for a in actions:
                if "add" in a and (a["add"].get("numRecords") or 0) > 0:
                    out.append(
                        _FilePartition(
                            os.path.join(self.table_path, a["add"]["path"]),
                            a["add"].get("numRecords"),
                        )
                    )
        return out

    # -- reading (executors) -------------------------------------------

    def read(self, partition: _FilePartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        want = to_arrow_schema(self.schema)
        yield from align_to(
            pq.read_table(partition.path), want, physical=self.column_mapping
        ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # the engine's checkpoint is the only consumption state


# ---------------------------------------------------------------------------
# Change-data-feed reader
# ---------------------------------------------------------------------------
#
# Partition taxonomy for one non-append commit, most-distributed first:
#
# 1. `_CdcFilePartition` — the commit carries writer-emitted change-data
#    files (the table was created with ``change_data_feed=True``; the
#    public Delta CDF design): one partition PER CDC FILE, zero read-time
#    diffing, I/O = O(changed rows). The scale path.
# 2. `_CdcDvDeltaPartition` — a pure merge-on-read commit (only deletion
#    vectors changed, nothing added or removed, no unmask possible): one
#    partition PER FILE; the newly-masked positions are `delete` events,
#    taken by index — no key, no join.
# 3. `_CdcWholeFilePartition` — one side of the commit is empty (pure
#    drop or pure insert of whole files): one partition PER FILE, every
#    live row gets the same change type.
# 4. `_CdcSlicePartition` — both sides non-empty (COW DELETE/UPDATE,
#    MERGE, OVERWRITE, RESTORE without CDC files): the joint old/new
#    universe is diffed BY KEY with an Arrow-native full-outer join
#    (`pa.Table.join`, Acero — never a Python dict loop), hash-sliced
#    into ceil(rows / cdcSliceRows) partitions so one large commit
#    spreads across the cluster and per-task RETAINED memory is
#    O(rows / n_slices). The trade (documented, PLANS.md): each slice
#    scans every changed file of the commit, so read amplification is
#    n_slices x changed-bytes — which is why tables that stream CDC at
#    scale should enable writer-side change files (case 1).


class _CdcInsertPartition(InputPartition):
    def __init__(self, file: str, version: int):
        self.file = file
        self.version = version


class _CdcFilePartition(InputPartition):
    """One writer-emitted change-data file of a CDC-enabled commit."""

    def __init__(self, path: str, version: int):
        self.path = path
        self.version = version


class _CdcDvDeltaPartition(InputPartition):
    """One data file whose deletion vector grew in a pure-MOR commit:
    positions in new_dv minus old_dv are `delete` events."""

    def __init__(self, version: int, file: str, old_dv: str | None,
                 new_dv: str | None):
        self.version = version
        self.file = file
        self.old_dv = old_dv
        self.new_dv = new_dv


class _CdcWholeFilePartition(InputPartition):
    """One file present on exactly one side of the commit boundary:
    every live row is ``change_type``."""

    def __init__(self, version: int, file: str, dv: str | None,
                 change_type: str):
        self.version = version
        self.file = file
        self.dv = dv
        self.change_type = change_type


class _CdcSlicePartition(InputPartition):
    """Key-hash slice ``slice_idx`` of ``n_slices`` of one commit's
    joint old/new diff. ``old_files`` / ``new_files`` are residual
    ``(path, dv)`` pairs; ``dv_deltas`` are ``(path, old_dv, new_dv)``
    whose masked/unmasked position deltas join the old/new sides."""

    def __init__(self, version: int, old_files, new_files, dv_deltas,
                 keys: list[str], slice_idx: int, n_slices: int):
        self.version = version
        self.old_files = old_files
        self.new_files = new_files
        self.dv_deltas = dv_deltas
        self.keys = keys
        self.slice_idx = slice_idx
        self.n_slices = n_slices


def _dv_positions(dv_path: str | None, file: str):
    """Masked physical positions of ``file`` in sidecar ``dv_path``."""
    import numpy as np
    import pyarrow.parquet as pq

    if dv_path is None:
        return np.empty(0, dtype=np.int64)
    t = pq.read_table(
        dv_path, filters=[("file", "==", os.path.basename(file))]
    )
    return t.column("pos").to_numpy().astype(np.int64, copy=False)


def read_masked_table(file: str, dv: str | None):
    """pyarrow-read one data file with its deletion-vector sidecar
    applied by physical row index (no join)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(file)
    if dv is not None:
        mask = np.ones(len(table), dtype=bool)
        mask[_dv_positions(dv, file)] = False
        table = table.filter(pa.array(mask))
    return table


def align_to(table, want, physical: dict | None = None):
    """Cast/NULL-fill an arrow table to the arrow schema ``want``
    (pre-evolution files lack late columns). ``physical`` maps a
    wanted LOGICAL field name to the PHYSICAL parquet column that
    stores it (column mapping — see txtable.Snapshot.column_mapping);
    absent entries mean identity."""
    import pyarrow as pa

    physical = physical or {}
    cols = []
    for f in want:
        src = physical.get(f.name, f.name)
        if src in table.column_names:
            cols.append(table.column(src).cast(f.type))
        else:
            cols.append(pa.nulls(len(table), f.type))
    return pa.Table.from_arrays(cols, schema=want)


def _slice_filter(table, keys: list[str], slice_idx: int, n_slices: int):
    """Keep the rows whose key-hash lands in this slice. The hash is
    pandas' vectorized siphash (fixed default hash key, deterministic
    across processes) — every slice task of the commit computes the
    same partitioning independently, which is what lets a no-shuffle
    Python DataSource distribute a keyed diff."""
    import pandas as pd
    import pyarrow as pa

    if n_slices <= 1 or len(table) == 0:
        return table
    h = pd.util.hash_pandas_object(
        table.select(keys).to_pandas(), index=False
    ).to_numpy()
    return table.filter(pa.array((h % n_slices) == slice_idx))


def _col_differs(a, b):
    """Vectorized per-column inequality with SQL-null and NaN handling
    matched to the batch ``change_feed``'s ``eqNullSafe`` struct
    compare: NULL == NULL, NaN == NaN, NULL != value."""
    import pyarrow.compute as pc
    import pyarrow.types as pt

    one_null = pc.xor(pc.is_null(a), pc.is_null(b))
    neq = pc.fill_null(pc.not_equal(a, b), False)
    if pt.is_floating(a.type):
        both_nan = pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False)
        neq = pc.and_(neq, pc.invert(both_nan))
    return pc.or_(one_null, neq)


class TxTableChangeFeedReader(DataSourceStreamReader):
    """Streaming CHANGE DATA FEED over the table format
    (``readChangeFeed=true`` + ``key=<cols>``): consumers see
    row-level ``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage`` rows (+ ``_commit_version``) instead of an
    append-only stream, so DELETE/UPDATE/MERGE commits propagate
    downstream instead of raising.

    Offsets are commit versions, like the append reader. An
    append-type commit expands to per-file ``insert`` partitions; a
    non-append commit decomposes per the taxonomy above — writer
    change files when the table records them, per-file partitions for
    pure-MOR / one-sided commits, and a key-hash-sliced Arrow-join
    diff otherwise. Per-task retained memory is O(changed rows /
    n_slices), never O(commit); OPTIMIZE commits are skipped (row set
    unchanged by contract). NULL key columns follow SQL join
    semantics (never match — same as the batch ``change_feed``'s
    full-outer join).

    The ``key`` option MUST identify rows uniquely within any one
    commit's changed files — the read-time diff attributes deletes /
    inserts / updates by key, and a duplicate would cross-product the
    join. Duplicates are detected per slice and raise a ``ValueError``
    naming the commit; tables whose rows have no natural unique key
    should enable ``change_data_feed=True`` so the writer records
    exact change files and no diff is needed."""

    # One slice task retains ~this many diff rows; at parquet-typical
    # ~100 B/row that is ~400 MB — sized to executor memory, matching
    # spark.sql.files.maxPartitionBytes-scale working sets.
    DEFAULT_SLICE_ROWS = 4_000_000
    MAX_SLICES = 64  # read-amplification cap: slices re-scan the commit
    # Past this many slices the fallback's read amplification likely
    # exceeds what writer-side CDC would have cost — warn and nudge.
    AMPLIFICATION_WARN_SLICES = 4

    def __init__(self, schema: T.StructType, options: dict):
        opts = {str(k).lower(): v for k, v in options.items()}
        self.table_path = local_path(
            opts.get("path") or opts.get("tablepath") or ""
        ) or None
        if not self.table_path:
            raise ValueError("txtable_stream requires a 'path' option")
        key = opts.get("key")
        if not key:
            raise ValueError("readChangeFeed requires a 'key' option")
        self.keys = [k.strip() for k in str(key).split(",") if k.strip()]
        self.schema = schema  # table schema + _change_type + _commit_version
        self.starting_version = _resolve_start(opts, self.table_path)
        # Cap base only ever learned from initialOffset() (fresh
        # query) or partitions() — see the append reader's comment: a
        # startingVersion-derived base seeded in __init__ can sit
        # BELOW a restarted checkpoint and regress the offset.
        self.max_versions = int(opts.get("maxversionspertrigger", 0)) or None
        self._planned: int | None = None
        self.slice_rows = int(
            opts.get("cdcslicerows", self.DEFAULT_SLICE_ROWS)
        )
        self.log = os.path.join(self.table_path, "_txlog")
        # logical->physical column mapping (stable physical names):
        # data and change files store PHYSICAL columns, the feed's
        # schema is LOGICAL — resolve at align time. Any snapshot's
        # mapping works for resolution because physical names never
        # change once assigned; latest is the cheapest to build.
        self.column_mapping = dict(
            TxTable(None, self.table_path).snapshot().column_mapping
        )

    def initialOffset(self) -> dict:
        # Fresh query only (no checkpoint) — safe to seed the cap base.
        self._planned = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        latest = TxTable(None, self.table_path).latest_version()
        if self.max_versions is not None and self._planned is not None:
            latest = min(latest, self._planned + self.max_versions)
        return {"version": latest}

    # -- planning (driver) ---------------------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        observed = max(start["version"], end["version"])
        self._planned = (
            observed if self._planned is None
            else max(self._planned, observed)
        )
        t = TxTable(None, self.table_path)
        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            actions = _commit_actions(self.log, v)
            op = _commit_op(actions)
            if op == "CLONE" and _clone_dv_adds(op, actions):
                raise RuntimeError(
                    f"txtable_stream CDC: commit {v} is a CLONE carrying "
                    f"deletion-vector references — its raw files hold "
                    f"masked rows, so per-file inserts would resurrect "
                    f"them. OPTIMIZE the clone to purge the DVs, or "
                    f"stream the source table's CDC instead."
                )
            if op in APPEND_OPS or op == "CLONE":
                for a in actions:
                    if "add" in a and (a["add"].get("numRecords") or 0) > 0:
                        out.append(
                            _CdcInsertPartition(
                                os.path.join(self.table_path, a["add"]["path"]),
                                v,
                            )
                        )
                continue
            if op == "OPTIMIZE":
                continue  # pure file-level rewrite: row set unchanged
            out.extend(self._plan_dml(t, v, actions))
        return out

    def _plan_dml(self, t: TxTable, v: int,
                  actions: list[dict]) -> list[InputPartition]:
        # Case 1: writer-emitted change files (table-level CDF). The
        # commitInfo cdc flag distinguishes "CDC computed, zero
        # changes" from "CDC not recorded" — only the latter falls
        # back to the read-time diff.
        info = next(
            (a["commitInfo"] for a in actions if "commitInfo" in a), {}
        )
        if info.get("cdc"):
            return [
                _CdcFilePartition(
                    os.path.join(self.table_path, a["cdc"]["path"]), v
                )
                for a in actions
                if "cdc" in a and (a["cdc"].get("numRecords") or 0) > 0
            ]

        s0, s1 = t.snapshot(v - 1), t.snapshot(v)
        f0, f1 = s0.files, s1.files
        join = os.path.join
        dv_deltas = [
            (join(self.table_path, p),
             join(self.table_path, f0[p]["dv"]) if f0[p].get("dv") else None,
             join(self.table_path, f1[p]["dv"]) if f1[p].get("dv") else None)
            for p in f0
            if p in f1 and f0[p].get("dv") != f1[p].get("dv")
        ]
        removed = [
            (join(self.table_path, p),
             join(self.table_path, f0[p]["dv"]) if f0[p].get("dv") else None)
            for p in sorted(f0) if p not in f1
        ]
        added = [
            (join(self.table_path, p),
             join(self.table_path, f1[p]["dv"]) if f1[p].get("dv") else None)
            for p in sorted(f1) if p not in f0
        ]
        # an old dv can only LOSE positions via RESTORE-style commits;
        # a fresh dv (old side None) strictly masks
        unmask_possible = any(od is not None for _, od, _nd in dv_deltas)

        # Case 2: pure MOR masking — per-file, index-take, no key
        if not removed and not added and not unmask_possible:
            return [
                _CdcDvDeltaPartition(v, f, od, nd)
                for f, od, nd in dv_deltas
            ]
        # Case 3: one-sided commits — whole files, one change type
        if not dv_deltas and not added:
            return [
                _CdcWholeFilePartition(v, f, dv, "delete")
                for f, dv in removed
            ]
        if not dv_deltas and not removed:
            return [
                _CdcWholeFilePartition(v, f, dv, "insert")
                for f, dv in added
            ]
        # Case 4: joint keyed diff, hash-sliced. Row estimate from the
        # log's per-file stats (live = physical - dv-masked).
        def live(meta):
            return (meta.get("numRecords") or 0) - meta.get("dvRows", 0)

        est = sum(live(f0[os.path.relpath(f, self.table_path)])
                  for f, _ in removed)
        est += sum(live(f1[os.path.relpath(f, self.table_path)])
                   for f, _ in added)
        for f, _od, _nd in dv_deltas:
            p = os.path.relpath(f, self.table_path)
            est += abs(f1[p].get("dvRows", 0) - f0[p].get("dvRows", 0))
        n = max(1, min(self.MAX_SLICES,
                       -(-est // max(1, self.slice_rows))))
        if n > self.AMPLIFICATION_WARN_SLICES:
            # Every slice re-scans ALL of the commit's changed files,
            # so read amplification = n x changed-bytes. Past ~4x the
            # fallback is paying more I/O than writer-side CDC would
            # cost up front — surface the trade instead of silently
            # eating it.
            import warnings

            warnings.warn(
                f"txtable_stream CDC: commit {v} (~{est} changed rows) "
                f"diffs as {n} hash slices, each re-scanning the "
                f"commit's changed files ({n}x read amplification). "
                f"Enable change_data_feed=True on the table so the "
                f"writer records exact change files and the feed "
                f"reads O(changed rows).",
                stacklevel=2,
            )
        return [
            _CdcSlicePartition(v, removed, added, dv_deltas,
                               self.keys, i, n)
            for i in range(n)
        ]

    # -- reading (executors) -------------------------------------------

    def _arrow_schemas(self):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        want = to_arrow_schema(self.schema)
        table_fields = [
            f for f in want
            if f.name not in ("_change_type", "_commit_version")
        ]
        return want, pa.schema(table_fields)

    def _emit(self, table, change_type: str, version: int, want):
        """Tag a table-schema arrow table with change metadata."""
        import pyarrow as pa

        return table.append_column(
            "_change_type", pa.array([change_type] * len(table), pa.string())
        ).append_column(
            "_commit_version", pa.array([version] * len(table), pa.int64())
        ).cast(want)

    def read(self, partition) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        want, tbl_schema = self._arrow_schemas()

        if isinstance(partition, _CdcInsertPartition):
            t = align_to(read_masked_table(partition.file, None), tbl_schema,
                         physical=self.column_mapping)
            yield from self._emit(
                t, "insert", partition.version, want
            ).to_batches()
            return

        if isinstance(partition, _CdcFilePartition):
            # writer-emitted change file: rows already classified; the
            # file carries _change_type + table columns at write-time
            # schema — align the table part, keep the recorded type
            raw = pq.read_table(partition.path)
            body = align_to(raw.drop_columns(["_change_type"]), tbl_schema,
                            physical=self.column_mapping)
            out = body.append_column(
                "_change_type", raw.column("_change_type").cast(pa.string())
            ).append_column(
                "_commit_version",
                pa.array([partition.version] * len(raw), pa.int64()),
            )
            yield from out.cast(want).to_batches()
            return

        if isinstance(partition, _CdcWholeFilePartition):
            t = align_to(
                read_masked_table(partition.file, partition.dv), tbl_schema,
                physical=self.column_mapping,
            )
            yield from self._emit(
                t, partition.change_type, partition.version, want
            ).to_batches()
            return

        if isinstance(partition, _CdcDvDeltaPartition):
            old_pos = _dv_positions(partition.old_dv, partition.file)
            new_pos = _dv_positions(partition.new_dv, partition.file)
            masked = np.setdiff1d(new_pos, old_pos)
            if len(masked) == 0:
                return
            t = align_to(
                pq.read_table(partition.file).take(masked), tbl_schema,
                physical=self.column_mapping,
            )
            yield from self._emit(
                t, "delete", partition.version, want
            ).to_batches()
            return

        # _CdcSlicePartition: joint keyed diff, this task's hash slice
        keys = partition.keys
        vals = [f.name for f in tbl_schema if f.name not in keys]

        def gather(files, delta_side):
            chunks = []
            for f, dv in files:
                t = align_to(read_masked_table(f, dv), tbl_schema,
                             physical=self.column_mapping)
                chunks.append(_slice_filter(
                    t, keys, partition.slice_idx, partition.n_slices
                ))
            for f, od, nd in partition.dv_deltas:
                old_pos = _dv_positions(od, f)
                new_pos = _dv_positions(nd, f)
                take = (np.setdiff1d(new_pos, old_pos) if delta_side == "old"
                        else np.setdiff1d(old_pos, new_pos))
                if len(take):
                    t = align_to(pq.read_table(f).take(take), tbl_schema,
                                 physical=self.column_mapping)
                    chunks.append(_slice_filter(
                        t, keys, partition.slice_idx, partition.n_slices
                    ))
            if not chunks:
                return tbl_schema.empty_table()
            return pa.concat_tables(chunks)

        old_t = gather(partition.old_files, "old")
        new_t = gather(partition.new_files, "new")
        # The keyed diff REQUIRES 'key' to be unique per row within a
        # commit's changed files: a duplicated key would turn the
        # full-outer join into a cross-product and emit inflated /
        # misclassified change events. Detect it up front (one hash
        # aggregate per side, O(slice rows)) and fail loudly rather
        # than stream wrong events.
        for side_name, side_t in (("pre-image", old_t), ("post-image", new_t)):
            if len(side_t):
                n_distinct = side_t.group_by(keys).aggregate([]).num_rows
                if n_distinct != len(side_t):
                    raise ValueError(
                        f"readChangeFeed: key columns {keys} are not "
                        f"unique in the {side_name} rows of commit "
                        f"{partition.version} ({len(side_t)} rows, "
                        f"{n_distinct} distinct keys). The read-time "
                        f"diff cannot attribute changes to rows without "
                        f"a unique key — pass a unique 'key', or enable "
                        f"change_data_feed=True on the table so the "
                        f"writer records exact change files."
                    )
        old_t = old_t.append_column(
            "__po", pa.array(np.ones(len(old_t), dtype=np.int8))
        )
        new_t = new_t.append_column(
            "__pn", pa.array(np.ones(len(new_t), dtype=np.int8))
        )
        j = old_t.join(
            new_t, keys=keys, join_type="full outer", right_suffix="__r"
        )
        has_old = pc.is_valid(j.column("__po"))
        has_new = pc.is_valid(j.column("__pn"))

        def side(rows, renamed: bool):
            cols = [rows.column(k) for k in keys]
            cols += [
                rows.column(c + "__r" if renamed else c) for c in vals
            ]
            return pa.Table.from_arrays(
                cols, schema=pa.schema(
                    [tbl_schema.field(k) for k in keys]
                    + [tbl_schema.field(c) for c in vals]
                )
            ).select([f.name for f in tbl_schema])

        outs = []
        dels = j.filter(pc.and_(has_old, pc.invert(has_new)))
        if len(dels):
            outs.append(self._emit(
                side(dels, False), "delete", partition.version, want
            ))
        ins = j.filter(pc.and_(has_new, pc.invert(has_old)))
        if len(ins):
            outs.append(self._emit(
                side(ins, True), "insert", partition.version, want
            ))
        both = j.filter(pc.and_(has_old, has_new))
        if len(both):
            differs = None
            for c in vals:
                d = _col_differs(both.column(c), both.column(c + "__r"))
                differs = d if differs is None else pc.or_(differs, d)
            if differs is not None:
                changed = both.filter(differs)
                if len(changed):
                    outs.append(self._emit(
                        side(changed, False), "update_preimage",
                        partition.version, want,
                    ))
                    outs.append(self._emit(
                        side(changed, True), "update_postimage",
                        partition.version, want,
                    ))
        for out in outs:
            yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass


class TxTableStreamSource(DataSource):
    """``spark.readStream.format("txtable_stream")`` after
    ``spark.dataSource.register(TxTableStreamSource)``. Plain
    append-stream by default; ``readChangeFeed=true`` + ``key=...``
    switches to the row-level CDC stream."""

    @classmethod
    def name(cls) -> str:
        return "txtable_stream"

    def _opts(self) -> dict:
        return {str(k).lower(): v for k, v in self.options.items()}

    def _cdc(self) -> bool:
        return str(self._opts().get("readchangefeed", "false")).lower() in (
            "true", "1", "yes",
        )

    def schema(self) -> T.StructType:
        opts = self._opts()
        path = local_path(opts.get("path") or opts.get("tablepath") or "") or None
        if not path:
            raise ValueError("txtable_stream requires a 'path' option")
        base = TxTable(None, path).snapshot().schema
        if not self._cdc():
            return base
        return T.StructType(
            list(base.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.LongType(), False),
            ]
        )

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if self._cdc():
            return TxTableChangeFeedReader(schema, dict(self.options))
        return TxTableStreamReader(schema, dict(self.options))


def apply_changes(
    spark,
    source_path: str,
    target: "TxTable",
    key,
    checkpoint: str,
    source_options: dict | None = None,
) -> None:
    """CDC-APPLY materialization (the public Delta "foreachBatch
    MERGE" pattern): keep ``target`` in sync with the table at
    ``source_path`` by draining its streaming change feed and MERGING
    each micro-batch — upserts for the latest insert/update_postimage
    per key, deletes for keys whose final event is a delete. After a
    drain, ``target.read()`` equals the source's current snapshot
    regardless of how many DML commits the batch spanned.

    Per micro-batch the events reduce to ONE row per key — "last
    writer wins" by (_commit_version, event kind): update_preimages
    are discarded, and at the key's final version an insert/postimage
    beats nothing else (a commit emits at most one terminal event per
    key). The reduction is a single window-rank shuffle on the key;
    the merge is the target's file-pruned COW path. Replayed
    micro-batches (restart between sink commit and source checkpoint
    advance) re-merge the same reduced rows — MERGE is idempotent on
    identical input, so the target converges without a txn ledger.

    Scale posture: each batch shuffles only the CHANGED rows (the
    feed is O(changed) on CDF tables), the rank is one exchange, and
    the merge rewrites only target files holding affected keys."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)

    def fb(batch_df, _epoch: int) -> None:
        if not batch_df.take(1):
            return
        w = Window.partitionBy(*keys).orderBy(
            F.col("_commit_version").desc(),
            # at the final version: terminal events (insert, delete,
            # update_postimage) outrank the preimage
            F.when(F.col("_change_type") == "update_preimage", 0)
            .otherwise(1)
            .desc(),
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1)
                    & (F.col("_change_type") != "update_preimage"))
            .withColumn(
                "op",
                F.when(F.col("_change_type") == "delete", F.lit("D"))
                .otherwise(F.lit(None).cast("string")),
            )
            .drop("__rn", "_change_type", "_commit_version")
        )
        target.merge(latest, keys if len(keys) > 1 else keys[0])

    reader = (
        spark.readStream.format("txtable_stream")
        .option("readChangeFeed", "true")
        .option("key", ",".join(keys))
    )
    for k, v in (source_options or {}).items():
        reader = reader.option(k, v)
    q = (
        reader.load(source_path)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(fb)
        .start()
    )
    q.awaitTermination()
