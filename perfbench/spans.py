"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's own files only: the hooks below wrap
the library's public layer functions at run time (the library itself is not
edited).  A span is ``(name, start, end, parent, op_id)`` plus a dict of
counts taken at the same boundary.  Spans stay in memory and are written out
once, when the run ends.

A layer's self time is its span's duration minus the part of that interval
its child spans cover; summed over one operation, the self times add up to
the operation's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

LIB = "lakehouse_platform_nyc_taxi_spark"

#: Physical operators that run Python workers (Arrow or pickled batches).
PYTHON_PLAN_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "ArrowWindowPython",
    "WindowInPandas",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``enabled`` is toggled per pass so one
    traced run can also time untraced passes and report the overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts: float):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, op_id=self.op_id, counts=dict(counts))
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **counts: float) -> None:
        """Record a span measured elsewhere (streaming micro-batches)."""
        self.spans.append(Span(name, start, end, parent, self.op_id, dict(counts)))

    def inside(self, prefix: str) -> bool:
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def self_times(self) -> list[float]:
        children: dict[int, list[int]] = defaultdict(list)
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children[sp.parent].append(i)
        out = []
        for i, sp in enumerate(self.spans):
            covered, cursor = 0.0, sp.start
            for lo, hi in sorted((self.spans[c].start, self.spans[c].end) for c in children[i]):
                lo, hi = max(lo, cursor), min(hi, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.append(max(0.0, sp.end - sp.start - covered))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, (sp, st) in enumerate(zip(self.spans, selfs)):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": sp.name,
                            "start": round(sp.start, 6),
                            "end": round(sp.end, 6),
                            "parent": sp.parent,
                            "op_id": sp.op_id,
                            "self_s": round(st, 6),
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


def _rebind(orig, wrapper) -> None:
    """Replace ``orig`` by ``wrapper`` in every library module that bound
    it by name (``from .writers import overwrite_table`` copies the
    reference, so patching the defining module alone would miss callers)."""
    for name, mod in list(sys.modules.items()):
        if not (name == LIB or name.startswith(LIB + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _wrap(tracer: Tracer, span_name: str, orig):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    return wrapper


def _data_files(path: str) -> dict[str, int]:
    """Data files under ``path`` (hidden ``.crc`` and ``_SUCCESS`` markers
    excluded) -> size in bytes."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def install_hooks(tracer: Tracer) -> None:
    """Wrap the layer entry points the per-layer metrics are taken from."""
    from pyspark.sql.classic.dataframe import DataFrame

    from lakehouse_platform_nyc_taxi_spark.operators import fencing
    from lakehouse_platform_nyc_taxi_spark.quality import observers
    from lakehouse_platform_nyc_taxi_spark.sources import testdata, writers

    _rebind(testdata.load_table, _wrap(tracer, "sources.testdata.load_table", testdata.load_table))

    def fence(span_name, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # a localCheckpoint inside fence_if_small is one fence, not two
            with tracer.span(span_name, nested=int(tracer.inside("operators.fencing."))):
                return orig(*args, **kwargs)

        return wrapper

    _rebind(fencing.fence_if_small, fence("operators.fencing.fence_if_small", fencing.fence_if_small))
    DataFrame.localCheckpoint = fence("operators.fencing.localCheckpoint", DataFrame.localCheckpoint)

    def writer(span_name, orig, path_of):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.inside("sources.writers."):
                return orig(*args, **kwargs)
            path = path_of(args, kwargs)
            before = _data_files(path)
            with tracer.span(span_name) as sp:
                out = orig(*args, **kwargs)
            after = _data_files(path)
            new = [p for p in after if p not in before]
            sp.counts["files_written"] = len(new)
            sp.counts["bytes_written"] = sum(after[p] for p in new)
            return out

        return wrapper

    def arg(i, name):
        return lambda args, kwargs: kwargs[name] if name in kwargs else args[i]

    _rebind(
        writers.append_partitioned,
        writer("sources.writers.append", writers.append_partitioned, arg(1, "path")),
    )
    _rebind(
        writers.overwrite_table,
        writer("sources.writers.write", writers.overwrite_table, arg(1, "path")),
    )
    _rebind(
        writers.incremental_delete_insert,
        writer("sources.writers.write", writers.incremental_delete_insert, arg(2, "path")),
    )
    _rebind(
        observers.observed_write,
        writer("sources.writers.write", observers.observed_write, arg(1, "path")),
    )


class StreamListener:
    """Records each streaming micro-batch as a span under the operation
    that drained it, and the runId (the job group of its micro-batch jobs)
    of each query started while tracing."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.tracer = tracer
        self.parent: int | None = None
        self.pending: list[tuple[str, int, int]] = []
        self.run_ids: list[str] = []
        # epoch seconds -> perf_counter seconds
        self.offset = time.time() - time.perf_counter()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                # called before DataStreamWriter.start() returns
                if tracer.enabled:
                    outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                outer.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def on_progress(self, progress) -> None:
        # called on the py4j callback thread: only buffer here, the main
        # thread turns the buffer into spans in flush()
        if self.tracer.enabled:
            self.pending.append((progress.timestamp, progress.batchDuration, progress.numInputRows))

    def flush(self) -> None:
        from datetime import datetime

        pending, self.pending = self.pending, []
        for stamp, dur_ms, rows in pending:
            start = datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() - self.offset
            end = start + dur_ms / 1000.0
            if self.parent is not None:
                # the batch ran while its parent drained the stream; clip the
                # millisecond timestamps to the parent's interval
                p = self.tracer.spans[self.parent]
                start, end = max(start, p.start), min(end, p.end)
            self.tracer.add("streaming.batch", start, max(start, end), self.parent, rows=rows)


class JvmCounters:
    """Counters read from the driver JVM: codegen, GC and the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def compiles(self) -> tuple[int, float]:
        """(compile count, mean compile ms of the recent-sample reservoir)."""
        return int(self.codegen.getCount()), float(self.codegen.getSnapshot().getMean())

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self.gcs) / 1000.0

    def jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> dict[str, float]:
        """Tasks, input and shuffle-write bytes and executor run time of the
        stages of ``job_ids`` (skipped stages count zero)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": len(job_ids), "tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0, "executor_run_s": 0.0}
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # stage evicted from the status store
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
        return out


_PYTHON_NODE_RE = re.compile(r"\b(%s)\b" % "|".join(PYTHON_PLAN_NODES))


def python_plan_nodes(plan_string: str) -> int:
    return len(_PYTHON_NODE_RE.findall(plan_string))
