"""Spans around calls into the package's layers, for the traced run.

A span times one call and gives it its own Spark job group, so the jobs,
stages and task metrics the call causes are attributed to it. Counters are
read from Spark's status store only when the outermost span has ended and
the listener bus has drained, so no timed interval pays for reading them.
Spans stay in memory until the run ends.

The untraced run uses ``NullTracer``: the same workload code, no job groups
and no wrapped functions.
"""

from __future__ import annotations

import contextlib
import itertools
import time

COUNTERS = (
    "jobs", "stages", "tasks", "run_s",
    "input_bytes", "output_bytes", "shuffle_bytes",
)


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()

    def restore(self) -> None:
        pass


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._uncounted: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    def _set_group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", span["group"] if span else None
        )
        self.sc.setLocalProperty(
            "spark.job.description", span["name"] if span else None
        )

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        rec["group"] = f"lakebench-{rec['id']}"
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - rec["start"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._uncounted.append(rec)
            if not self._stack:
                self._count()

    def _count(self) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self._uncounted:
            c = dict.fromkeys(COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    st = store.lastStageAttempt(stage_ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["run_s"] += st.executorRunTime() / 1000
                    c["input_bytes"] += st.inputBytes()
                    c["output_bytes"] += st.outputBytes()
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
            rec.update(c)
            self.spans.append(rec)
        self._uncounted = []

    def wrap(self, owner, attr: str, name: str) -> None:
        """Put a span around every call of ``owner.attr`` (a module function
        or a class method) until ``restore``. Callers that look the name up
        at call time, as the package's modules do, get the span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_writer(self, name_of) -> None:
        """Spans around the DataFrameWriter sink calls, named by
        ``name_of(path)``."""
        from pyspark.sql.readwriter import DataFrameWriter

        for attr in ("parquet", "json", "save"):
            orig = getattr(DataFrameWriter, attr)

            def traced(writer, path=None, *args, _orig=orig, **kwargs):
                with self.span(name_of(path)):
                    return _orig(writer, path, *args, **kwargs)

            self._undo.append((DataFrameWriter, attr, orig))
            setattr(DataFrameWriter, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []


def children(spans: list[dict], span: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == span["id"]]


def inclusive(spans: list[dict], span: dict, key: str) -> float:
    """A counter over the span and every span nested in it."""
    return span[key] + sum(inclusive(spans, c, key) for c in children(spans, span))


def within(spans: list[dict], root: dict, name: str) -> list[dict]:
    """Spans called ``name`` nested anywhere under ``root``."""
    out = []
    for c in children(spans, root):
        if c["name"] == name:
            out.append(c)
        out.extend(within(spans, c, name))
    return out
