"""Spans around the benchmark's calls into hedera_spark, with the Spark
work each span fired.

Nothing here reaches inside the program: a span opens and closes in the
benchmark's own code, at a call into a public function. Each span runs
under its own Spark job group, so the jobs, stages and tasks it fired are
read back from the public `statusTracker()`. The tracker keeps only the
last ~1000 jobs, so callers `flush()` after every query. Spans stay in
memory until `dump()` writes them out at the end of the run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import time

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._unread: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "name": name,
            **attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)
            self._unread.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, rec["group"] if rec else None)
        self.sc.setLocalProperty(DESC_KEY, rec["name"] if rec else None)

    def flush(self, timeout_s: float = 10.0) -> None:
        """Attach jobs/stages/tasks to every span closed since the last
        flush. The status store is fed asynchronously by the listener bus,
        so wait until no job of these groups still runs and the task
        counts stop changing."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            counts = [self._counts(tracker, rec["group"]) for rec in self._unread]
            running = [c.pop("running") for c in counts]
            settled = not any(running)
            if (settled and counts == last) or time.monotonic() > deadline:
                break
            last = counts
            time.sleep(0.02)
        for rec, c in zip(self._unread, counts):
            rec.update(c)
        self._unread = []

    @staticmethod
    def _counts(tracker, group: str) -> dict:
        jobs = stages = tasks = failed = running = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            running += info.status not in ("SUCCEEDED", "FAILED")
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
                running += st.numActiveTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed, "running": running}

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(out, f)


@contextlib.contextmanager
def traced_loads(tracer: Tracer):
    """Route every `load_table` call through a `sources.load_table` span:
    the function in `hedera_spark.sources.tables` and each name an
    imported module bound to it. Restored on exit, so untraced passes in
    the same process call the original."""
    from hedera_spark.sources import tables

    original = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load_table", table=name):
            return original(spark, sf_dir, name)

    bound = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("hedera_spark") and getattr(m, "load_table", None) is original
    ]
    for m in bound:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in bound:
            m.load_table = original


class NullTracer:
    """The untraced pass: same call sites, no spans and no job groups."""

    enabled = False
    spans: list[dict] = []
    trace_id = None

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})

    def flush(self) -> None:
        pass
