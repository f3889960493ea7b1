"""In-memory spans with Spark status-store counters.

A span is recorded around one call into an engine layer from the
benchmark's own code. Each span carries the counters Spark's status
store saw for the jobs the span submitted (stages, tasks, input bytes,
shuffle-write bytes) plus the JVM's GC time over the span. Spans are
kept in a list and written out once, when the run ends.

Jobs are attributed to a span through a Spark job group set for the
span's duration; the status store is read through the session's JVM
after the listener bus has drained, so every finished job is visible.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int  # the job that caused the span; its spans share this id
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op
    context manager, so workload code is written once for both kinds of
    run. ``capture`` binds the JVM handles, which enabling requires;
    ``op`` tags spans with the job they belong to."""

    def __init__(self, spark, capture: bool):
        self.enabled = False
        self.spans: list[Span] = []
        self.op = 0
        self._spark = spark
        self._ids = itertools.count()
        if capture:
            jsc = spark.sparkContext._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._gcs = list(
                spark.sparkContext._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )

    def _gc_ms(self) -> int:
        return sum(max(0, int(b.getCollectionTime())) for b in self._gcs)

    def _job_counts(self, group: str) -> dict:
        sc = self._spark.sparkContext
        self._bus.waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        in_b = shuf_b = 0
        per_stage: dict[int, int] = {}  # stage id -> shuffle-write bytes
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JError:  # evicted, or never submitted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                stages += 1
                tasks += int(sd.numCompleteTasks())
                in_b += int(sd.inputBytes())
                shuf_b += int(sd.shuffleWriteBytes())
                per_stage[sid] = int(sd.shuffleWriteBytes())
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "input_bytes": in_b,
            "shuffle_write_bytes": shuf_b,
            "stage_shuffle_write_bytes": [per_stage[s] for s in sorted(per_stage)],
        }

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, name)
        gc0 = self._gc_ms()
        rec = Span(name, time.perf_counter(), 0.0, self.op)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec.counts = self._job_counts(group)
            rec.counts["gc_ms"] = self._gc_ms() - gc0
            self.spans.append(rec)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
