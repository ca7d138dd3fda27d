"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
the benchmark wraps the engine's public functions (``io.load_table``,
``cache.pin``) wherever a module holds a reference to them, and opens
spans itself around ``session.get_spark``, ``QueryDef.fn``, the result
materialisation and the ``foreachBatch`` sink.  Spark-side numbers come
from the driver's status store, keyed by the job group the benchmark
sets per query phase, and from ``StreamingQuery.recentProgress``.

Spans live in memory and are written out when the run ends.  Every
second the tracer spends on its own bookkeeping (span records, status
store reads) is added to ``overhead_s``.
"""

from __future__ import annotations

import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import percentile, union_length

PACKAGE = "flinkecuserbehavioranalysis_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self.window_start = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, query: str | None = None):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "query": query or (parent["query"] if parent else None),
        }
        stack.append(rec)
        self._charge(t0)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self._charge(t1)

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    def mark(self) -> None:
        """Start the measured window: counters restart, and ``total``
        only counts spans that begin from now on."""
        self.counters.clear()
        self.window_start = time.time()

    def total(self, name: str) -> float:
        """Summed duration of the measured window's *name* spans, not
        counting those nested inside another *name* span."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s) -> bool:
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["start"] >= self.window_start and not nested(s)
        )

    # -- wrapping engine functions ------------------------------------

    def wrap(self, module, attr: str, make_wrapper) -> None:
        """Replace ``module.attr`` with ``make_wrapper(original)`` in
        every engine module that holds a reference to it."""
        orig = getattr(module, attr)
        wrapper = make_wrapper(orig)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._patches.append((mod, key, orig))

    def unwrap_all(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches.clear()

    def instrument_engine(self) -> None:
        from flinkecuserbehavioranalysis_spark import cache, io

        def load_table_wrapper(orig):
            def load_table(*args, **kwargs):
                self.counters["io.load_table_calls"] += 1
                with self.span("io.load_table"):
                    return orig(*args, **kwargs)

            return load_table

        def pin_wrapper(orig):
            def pin(key, build):
                self.counters["cache.pin_calls"] += 1
                built = []

                def traced_build():
                    built.append(True)
                    with self.span("cache.build"):
                        return build()

                before = cache.stats()["entries"]
                with self.span("cache.pin"):
                    df = orig(key, traced_build)
                if built:
                    self.counters["cache.misses"] += 1
                    self.counters["cache.evictions"] += max(
                        0, before + 1 - cache.stats()["entries"]
                    )
                else:
                    self.counters["cache.hits"] += 1
                return df

            return pin

        self.wrap(io, "load_table", load_table_wrapper)
        self.wrap(cache, "pin", pin_wrapper)

    # -- Spark status store -------------------------------------------

    def exec_profile(self, spark, group: str) -> dict:
        """Jobs, stages, tasks and executor metrics of one job group,
        read from the status store once the listener bus has drained."""
        t0 = time.perf_counter()
        try:
            return read_job_group(spark, group)
        finally:
            self._charge(t0)

    def storage_mb(self, spark) -> float:
        t0 = time.perf_counter()
        try:
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        finally:
            self._charge(t0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_job_group(spark, group: str) -> dict:
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])})
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "input_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "stage_intervals": [],
        "task_skew": 1.0,
    }
    widest = None
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["input_mb"] += st.inputBytes() / 2**20
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if start is not None and end is not None:
            out["stage_intervals"].append((start, end))
        if widest is None or st.numTasks() > widest[2]:
            widest = (sid, st.attemptId(), st.numTasks())
    if widest is not None and widest[2] > 1:
        tasks = store.taskList(widest[0], widest[1], widest[2])
        durations = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(float(d.get()))
        if durations and percentile(durations, 50) > 0:
            out["task_skew"] = max(durations) / percentile(durations, 50)
    return out


def overhead_outside_stages(wall: tuple[float, float], intervals) -> float:
    """Part of the *wall* interval that no stage interval covers."""
    start, end = wall
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return (end - start) - union_length(clipped)
