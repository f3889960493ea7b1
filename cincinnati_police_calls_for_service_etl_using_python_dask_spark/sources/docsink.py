"""Document-store sink (SURVEY.md §2.1 S5–S8, §3.3).

The reference's Mongo load was the single biggest scalability bug in
the pipeline: ``data.map_partitions(convert_to_dict).compute()``
(app.py:690) executes the whole upstream graph and collects EVERY
record into driver memory before ``insert_many`` — at 100 TB that's a
dead driver. Here the write runs on EXECUTORS via ``foreachPartition``,
spread over at least ``defaultParallelism`` tasks: each task converts
its partition to documents and bulk-inserts them, with the reference's
retry policy (≤6 attempts, sleep between tries; app.py:708-740) applied
per partition instead of per job.

The client is pluggable (S10): ``pymongo`` if importable, else any
callable returning an object with ``insert_many``, ``drop_collection``
and ``rename_collection``. Tests use :class:`JsonLinesClient`, a
filesystem-backed fake with the same surface. Full-refresh semantics
(S8's drop_collections + reload, app.py:957-968) become
:func:`full_refresh_write`, which loads a staging collection and swaps
it in only after every partition has landed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

DEFAULT_MAX_RETRIES = 6          # app.py:708-740
DEFAULT_RETRY_SLEEP_S = 60.0     # tests override; reference sleeps 60 s


class JsonLinesClient:
    """Filesystem-backed stand-in for a document store: one JSON-lines
    file per (collection, batch), written to a tmp file and renamed. A
    batch whose docs all carry ``_id`` is named by the sha256 of its
    sorted ids, so a retried batch replaces its own file (else uuid)."""

    def __init__(self, root: str):
        self.root = root

    def insert_many(self, collection: str, docs: list[dict]) -> int:
        cdir = os.path.join(self.root, collection)
        os.makedirs(cdir, exist_ok=True)
        if docs and all("_id" in d for d in docs):
            ids = "\n".join(sorted(str(d["_id"]) for d in docs))
            name = hashlib.sha256(ids.encode("utf-8")).hexdigest()
        else:
            name = uuid.uuid4().hex
        path = os.path.join(cdir, f"part-{name}")
        with open(f"{path}.tmp", "w", encoding="utf-8") as fh:
            for d in docs:
                fh.write(json.dumps(d, default=str) + "\n")
        os.replace(f"{path}.tmp", f"{path}.jsonl")
        return len(docs)

    def drop_collection(self, collection: str) -> None:
        shutil.rmtree(os.path.join(self.root, collection), ignore_errors=True)

    def rename_collection(self, source: str, target: str) -> None:
        """Swap ``source`` in as ``target`` by directory ``os.replace``.
        ``rename(2)`` cannot replace a non-empty directory, so the old
        target is first renamed aside: for that instant a reader finds
        no ``target``, never a partial one. A missing ``source`` is an
        empty collection."""
        src = os.path.join(self.root, source)
        dst = os.path.join(self.root, target)
        os.makedirs(src, exist_ok=True)
        old = f"{dst}.old-{uuid.uuid4().hex}"
        if os.path.isdir(dst):
            os.replace(dst, old)
        os.replace(src, dst)
        shutil.rmtree(old, ignore_errors=True)

    def read_all(self, collection: str) -> list[dict]:
        cdir = os.path.join(self.root, collection)
        docs: list[dict] = []
        if os.path.isdir(cdir):
            for name in sorted(n for n in os.listdir(cdir) if n.endswith(".jsonl")):
                with open(os.path.join(cdir, name), encoding="utf-8") as fh:
                    docs.extend(json.loads(line) for line in fh)
        return docs


class MongoDatabaseAdapter:
    """Adapts a pymongo ``Database`` to the sink's client surface:
    ``insert_many(collection, docs)`` / ``drop_collection(name)`` /
    ``rename_collection(source, target)``.

    A raw ``Database`` must NOT be handed to the sink — attribute access
    on pymongo Databases creates Collections, so ``db.insert_many(...)``
    would resolve to a Collection named "insert_many" and blow up at
    call time (ADVICE r1, medium).

    Duplicate-key errors (code 11000) on ``insert_many(ordered=False)``
    are swallowed: with deterministic content-derived ``_id``s (see
    :func:`write_documents` ``deterministic_ids``), a retry or Spark
    task re-execution re-inserting already-written docs is a no-op
    instead of a duplicate — effective exactly-once. Any other write
    error is re-raised so the sink's retry loop sees it.
    """

    _DUP_KEY = 11000
    _NS_NOT_FOUND = 26

    def __init__(self, db):
        self._db = db

    def insert_many(self, collection: str, docs: list[dict]) -> int:
        try:
            result = self._db[collection].insert_many(docs, ordered=False)
            return len(result.inserted_ids)
        except Exception as exc:
            errs = getattr(exc, "details", None) or {}
            write_errors = errs.get("writeErrors")
            if write_errors is not None and all(
                e.get("code") == self._DUP_KEY for e in write_errors
            ):
                return len(docs) - len(write_errors)
            raise

    def drop_collection(self, collection: str) -> None:
        self._db.drop_collection(collection)

    def rename_collection(self, source: str, target: str) -> None:
        """One server-side ``renameCollection`` with ``dropTarget``. A
        missing ``source`` (code 26: nothing was inserted) is an empty
        collection, so the target is dropped."""
        try:
            self._db[source].rename(target, dropTarget=True)
        except Exception as exc:
            if getattr(exc, "code", None) != self._NS_NOT_FOUND:
                raise
            self._db.drop_collection(target)


def pymongo_client_factory(uri: str, db: str) -> "Callable[[], object] | None":
    """Real-store factory, import-gated (pymongo isn't in this env)."""
    try:
        import pymongo  # noqa: PLC0415
    except ImportError:
        return None

    def make():
        client = pymongo.MongoClient(uri)
        client.admin.command("ping")  # health check (app.py:621-641)
        return MongoDatabaseAdapter(client[db])

    return make


def content_id(doc: dict) -> str:
    """Deterministic document id: sha256 over the key-sorted JSON of the
    row content. Identical rows (from a retried batch or a re-executed
    Spark task) map to the same ``_id``, so a unique-key store rejects
    the re-insert instead of duplicating."""
    payload = json.dumps(doc, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def write_documents(
    df: DataFrame,
    collection: str,
    client_factory: Callable[[], JsonLinesClient],
    max_retries: int = DEFAULT_MAX_RETRIES,
    retry_sleep_s: float = DEFAULT_RETRY_SLEEP_S,
    deterministic_ids: bool = True,
) -> None:
    """Distributed document write: per-partition dict conversion +
    bulk insert with bounded retry. No driver materialization —
    contrast app.py:690's ``.compute()``. An input with fewer
    partitions than ``defaultParallelism`` (a small aggregate read back
    from one parquet file) is first spread round-robin over that many,
    so one Python task does not write every document.

    Delivery semantics: the retry loop re-sends the WHOLE partition
    batch after any failure, and Spark may re-execute a task that
    already wrote — so the raw transport is at-least-once. With
    ``deterministic_ids`` (default) every doc carries a content-derived
    ``_id`` (:func:`content_id`); against a store that enforces ``_id``
    uniqueness and ignores duplicate-key errors (see
    :class:`MongoDatabaseAdapter`) the observable result is
    exactly-once. Set ``deterministic_ids=False`` only for stores
    without unique keys, and dedup downstream on a fingerprint column.

    Caveat: two rows with IDENTICAL content get the same ``_id`` and
    collapse to one document. That is the right behavior for keyed or
    deduplicated data (the flagship pipeline dedups first); if exact
    duplicate rows must be preserved, include a distinguishing column
    (event id, offset) before writing.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)

    def handle_partition(rows) -> None:
        docs = [row.asDict() for row in rows]
        if not docs:
            return
        if deterministic_ids:
            for d in docs:
                d["_id"] = content_id(d)
        client = client_factory()
        attempt = 0
        while True:
            try:
                client.insert_many(collection, docs)
                return
            except Exception:
                attempt += 1
                if attempt >= max_retries:
                    raise
                time.sleep(retry_sleep_s)

    df.foreachPartition(handle_partition)


def full_refresh_write(
    df: DataFrame,
    collection: str,
    client_factory: Callable[[], JsonLinesClient],
    **kwargs,
) -> None:
    """S8 + S5: idempotent, atomic full refresh (drop_collections +
    db_insert, app.py:957-968).

    The load goes to ``<collection>__staging``; only after every
    partition has landed is it renamed over ``collection``
    (``rename_collection``). Readers see the previous documents until
    the swap, never a partial load. A failed load drops the staging
    collection and re-raises, leaving the previous collection as it
    was."""
    staging = f"{collection}__staging"
    client = client_factory()
    client.drop_collection(staging)  # left over from a killed run
    try:
        write_documents(df, staging, client_factory, **kwargs)
        client.rename_collection(staging, collection)
    except BaseException:
        client.drop_collection(staging)
        raise
