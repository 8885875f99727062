"""In-memory spans with Spark job/stage/task counters per span.

Each span owns a Spark job group (``SparkContext.setJobGroup``), so every
job started while it is the innermost open span is attributed to it. The
counters are read after the traced section from the status tracker (job ->
stage ids) and the status store (per-stage task, executor time, shuffle and
spill totals); both are kept with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import functools
import time

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # ------------------------------------------------------------- spans

    def open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict) -> None:
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.perf_counter()
            if top is span:
                break
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _group(self, span: dict) -> str:
        return f"{self.run_id}/{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span["name"])

    # ----------------------------------------------------------- counters

    def collect(self) -> list[dict]:
        """Fill each span's own counters, then its self time (duration minus
        the durations of its direct children)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(self._group(span)):
                c["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["run_ms"] += st.executorRunTime()
                    c["cpu_ms"] += st.executorCpuTime() / 1e6
                    c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            span.update(c)
            span["wall_s"] = span["end"] - span["start"]
        for span in self.spans:
            children = sum(s["wall_s"] for s in self.spans if s["parent"] == span["id"])
            span["self_s"] = span["wall_s"] - children
        return self.spans

    def total(self, name: str, key: str) -> float:
        """Sum of ``key`` over spans named ``name`` and all their descendants."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        grown = True
        while grown:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= more
            grown = bool(more)
        return sum(s[key] for s in self.spans if s["id"] in ids)

    def one(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)
