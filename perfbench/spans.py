"""Spans around calls into the program, with Spark's own stage counters.

A span is ``(name, start, end, parent)`` kept in memory; :meth:`Tracer.dump`
writes them when the run ends.  While a span is open its name is the
SparkContext job description, so every job the call submits is labelled
with it.  When the span closes, the tracer reads the jobs that finished
since the last span from Spark's status store (populated with the UI
disabled too) and adds their stages' counters to the span:

* ``executorRunTime`` / ``executorCpuTime`` / ``jvmGcTime``
* ``shuffleWriteBytes`` / ``shuffleReadBytes``
* ``memoryBytesSpilled`` + ``diskBytesSpilled``
* ``numFailedTasks``

Jobs are attributed by description first.  Jobs submitted from other
threads (structured-streaming micro-batches carry their own description)
fall back to the innermost span whose interval holds the job's submission
time.  A disabled tracer records nothing and touches no Spark API, so the
untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "failed_tasks",
    "jobs",
    "stages",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    counters: dict[str, float] = field(
        default_factory=lambda: {k: 0.0 for k in COUNTERS}
    )

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, cores: int) -> None:
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._seen_job = -1
        self._seen_stages: set[int] = set()
        # epoch ms -> perf_counter offset, for the submission-time fallback
        self._epoch_offset = time.time() - time.perf_counter()

    def bind(self, spark) -> None:
        """Attach to the session whose jobs the spans should collect."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._seen_job = -1
        self._seen_stages = set()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent.name if parent else None)
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(parent.name if parent else None)
                self._collect(sp)
            self.spans.append(sp)

    def _collect(self, closing: Span) -> None:
        """Fold counters of jobs newer than the last collected one into
        ``closing`` or the open span they belong to."""
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)  # newest job first
        candidates = self._stack + [closing]
        newest = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            target = self._attribute(job, candidates)
            if target is None:
                continue
            target.counters["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in self._seen_stages:
                    continue  # a stage reused by a later job counts once
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage: never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                c = target.counters
                c["stages"] += 1
                c["executor_run_ms"] += st.executorRunTime()
                c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["jvm_gc_ms"] += st.jvmGcTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["failed_tasks"] += st.numFailedTasks()
        self._seen_job = newest

    def _attribute(self, job, candidates: list[Span]) -> Span | None:
        desc = job.description()
        if desc.isDefined():
            label = desc.get()
            for sp in reversed(candidates):
                if sp.name == label:
                    return sp
        sub = job.submissionTime()
        if not sub.isDefined():
            return None
        t = sub.get().getTime() / 1000.0 - self._epoch_offset
        inside = [sp for sp in candidates if sp.start <= t <= (sp.end or t)]
        return max(inside, key=lambda sp: sp.start) if inside else None

    # ---- results ---------------------------------------------------------

    def busy_share(self, sp: Span) -> float:
        wall_ms = sp.seconds * 1000.0
        return sp.counters["executor_run_ms"] / (wall_ms * self.cores) if wall_ms else 0.0

    def totals(self, name: str) -> Span | None:
        """All closed spans called ``name`` folded into one."""
        hits = [sp for sp in self.spans if sp.name == name]
        if not hits:
            return None
        out = Span(name, 0.0, sum(sp.seconds for sp in hits), hits[0].parent)
        for sp in hits:
            for k, v in sp.counters.items():
                out.counters[k] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        payload = {**extra, "spans": [asdict(sp) for sp in self.spans]}
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=1, default=str)
            fh.write("\n")
