"""Spans and per-layer counters for the traced run (``--trace 1``).

Everything here wraps calls made from the benchmark's own files: a span is
opened around a call into a layer, tags that call's Spark jobs with
``setJobGroup``; when the run ends, the jobs' stage metrics are read back
from the status store (available with ``spark.ui.enabled=false``) and the
spans, kept in memory until then, are written as one JSON file. With tracing off
the same call sites use :class:`NullTracer`, which does nothing.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Stage metrics summed per span, as (span key, StageData getter, scale).
_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_records", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        yield {}


class Tracer:
    """In-memory span recorder sharing one run id.

    ``span(name, group=...)`` records name, start, end and parent. With a
    ``group`` it also sets the Spark job group for the duration of the span
    (restoring the enclosing span's group afterwards); :meth:`close` then
    attaches the group's job, stage and task counts and summed stage metrics.
    """

    enabled = True
    INHERITED = ("kind", "sink")

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[str] = []
        self.stream = _StreamListener()
        spark.streams.addListener(self.stream)

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            # a span inside a cycle or a sink's loop belongs to it too
            **{k: parent[k] for k in self.INHERITED if parent and k in parent},
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        if group:
            group = f"{self.run_id}.{rec['id']}.{group}"
            self._groups.append(group)
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                rec["group"] = group
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def job_metrics(self, group: str) -> dict:
        """Jobs, stages and summed stage metrics of one job group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store, gw = sc.statusTracker(), jsc.statusStore(), sc._gateway
        stage_ids: set[int] = set()
        job_ids = tracker.getJobIdsForGroup(group)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0}
        out.update({k: 0 for k, _, _ in _STAGE_FIELDS})
        empty = gw.new_array(gw.jvm.double, 0)
        for s in stage_ids:
            attempts = store.stageData(s, False, gw.jvm.java.util.ArrayList(), False, empty)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.numCompleteTasks() > 0:
                    out["stages"] += 1
                for key, getter, scale in _STAGE_FIELDS:
                    out[key] += getattr(d, getter)() * scale
        return out

    def close(self, path: str) -> None:
        """Attach each span's job metrics and write the spans to ``path``.

        The status store is read once here, after the measured work, so the
        reads cost nothing inside any span (it retains far more jobs and
        stages than one run launches)."""
        self.spark.streams.removeListener(self.stream)
        for rec in self.spans:
            if "group" in rec:
                rec.update(self.job_metrics(rec["group"]))
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class _StreamListener(StreamingQueryListener):
    """Streaming micro-batch phases, summed over every progress event."""

    PHASES = ("triggerExecution", "addBatch", "queryPlanning", "getBatch", "walCommit")

    def __init__(self):
        self.batches = 0
        self.input_rows = 0
        self.ms = {p: 0 for p in self.PHASES}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.input_rows += int(p.numInputRows)
        for k in self.PHASES:
            self.ms[k] += int(p.durationMs.get(k, 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

