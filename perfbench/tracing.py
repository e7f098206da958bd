"""Outside-in tracing for ``--trace 1`` runs.

Nothing here edits engine code. Three sources of per-layer numbers:

- :class:`Spans` wraps the public functions of each engine module (the
  layers) with a counting timer, and rebinds every module-level alias of
  them across the already-imported package, so ``from x import f``
  bindings made at import time are traced too. It must be installed
  before ``queries`` is imported: the registries bind ``ckpt`` and
  ``load_table`` when they load.
- :class:`StatusStoreDelta` reads Spark's own status stores (stages,
  jobs, SQL metrics) as deltas around each call, so the
  ``spark.ui.retainedStages`` cap never drops a stage it needed.
- :class:`StreamProgress` is a ``StreamingQueryListener`` that sums
  micro-batch progress (durations, state-store rows and memory).
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from collections import defaultdict

PKG = "pyspark_movie_recommender_spark"

# layer name -> modules whose public functions belong to it
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "sources": ("sources.tables",),
    "relational": ("operators.relational",),
    "udf_ops": ("operators.dedup", "operators.similarity", "operators.text", "functions"),
    "lineage": ("operators.lineage",),
    "cache": ("operators.cache",),
    "driver_scalar": ("driver_scalar",),
    "recommend": ("recommend",),
    "streaming": ("streaming.jobs",),
}

# functions reported by name as well as in their layer total
NAMED = {
    "sources.tables.load_table": "sources.load_table",
    "operators.lineage.ckpt": "lineage.ckpt",
    "operators.cache.track": "cache.track",
    "operators.cache.release_all": "cache.release_all",
    "recommend.train_with_grid_search": "recommend.grid_search",
    "recommend.fold_in_user": "recommend.fold_in",
    "recommend.recommend_for_user": "recommend.request",
}


class Spans:
    """Counting timers around every public function of the layer modules.

    A call counts once per layer however deep it nests inside the same
    layer (``scalar_row`` → ``bounded_collect`` is one driver-scalar
    collect); its time is inclusive wall time of the outermost call.
    Counting only happens while ``active`` is true, so untraced passes of
    a traced run go through the same wrappers.
    """

    def __init__(self) -> None:
        self.active = False
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)

    def _wrap(self, fn, keys: tuple[str, ...]):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            outer = [k for k in keys if self._depth[k] == 0]
            for k in keys:
                self._depth[k] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                for k in keys:
                    self._depth[k] -= 1
                for k in outer:
                    self.calls[k] += 1
                    self.seconds[k] += dt

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self) -> None:
        """Import the layer modules, wrap their public functions and
        rebind every alias in the package's loaded modules."""
        import importlib

        swap: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for rel in mods:
                mod = importlib.import_module(f"{PKG}.{rel}")
                for name, fn in list(vars(mod).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                        or getattr(fn, "__wrapped_by_perfbench__", False)
                    ):
                        continue
                    keys = (layer,) + ((NAMED[f"{rel}.{name}"],) if f"{rel}.{name}" in NAMED else ())
                    swap[id(fn)] = self._wrap(fn, keys)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in swap and inspect.isfunction(obj):
                    setattr(mod, name, swap[id(obj)])


_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),")


class StatusStoreDelta:
    """Stage/job/SQL-metric totals of everything Spark ran since the last
    :meth:`take`. Stages come from ``AppStatusStore.stageList`` (newest
    first), so a delta reads only the stages it has not seen."""

    STAGE_FIELDS = (
        ("executor_run_s", lambda s: s.executorRunTime() / 1e3),
        ("executor_cpu_s", lambda s: s.executorCpuTime() / 1e9),
        ("gc_s", lambda s: s.jvmGcTime() / 1e3),
        ("input_bytes", lambda s: s.inputBytes()),
        ("shuffle_write_bytes", lambda s: s.shuffleWriteBytes()),
        ("shuffle_read_bytes", lambda s: s.shuffleReadBytes()),
        ("spill_bytes", lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled()),
        ("tasks", lambda s: s.numCompleteTasks()),
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.max_stage = self._newest_stage()
        self.max_exec = self._newest_exec()
        self._group = 0

    def _newest_stage(self) -> int:
        stages = self._stages()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def _stages(self):
        # all five arguments: py4j cannot fill Scala default parameters
        return self.store.stageList(None, False, False, self._no_quantiles, None)

    def _newest_exec(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(int(n) - 1, 1).head().executionId()

    def begin_call(self) -> str:
        """Tag the jobs of the next call with a fresh job group."""
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def jobs_in(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def take(self) -> dict[str, float]:
        """Totals since the previous take (waits for the listener bus to
        deliver every finished stage first)."""
        self.bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        it = self._stages().iterator()
        newest = self.max_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self.max_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            for name, get in self.STAGE_FIELDS:
                out[name] += get(s)
        self.max_stage = newest
        out["python_bytes"] = self._python_bytes()
        return out

    def _python_bytes(self) -> float:
        n = int(self.sql_store.executionsCount())
        total = 0.0
        if n == 0:
            return total
        newest = self.max_exec
        # executions are listed oldest first: widen a window from the end
        # until it reaches one already seen
        start = max(0, n - 64)
        while start > 0 and self.sql_store.executionsList(start, 1).head().executionId() > self.max_exec:
            start = max(0, start - 64)
        execs = self.sql_store.executionsList(start, n - start).iterator()
        while execs.hasNext():
            e = execs.next()
            eid = e.executionId()
            if eid <= self.max_exec:
                continue
            newest = max(newest, eid)
            acc_ids = [
                int(acc) for name, acc in _PLAN_METRIC.findall(e.metrics().toString())
                if name in PY_METRICS
            ]
            if not acc_ids:
                continue
            values = self.sql_store.executionMetrics(eid)
            for acc in acc_ids:
                v = values.get(acc)
                if v.isDefined():
                    m = _SIZE.search(v.get())
                    if m:
                        total += float(m.group(1)) * _UNITS[m.group(2)]
        self.max_exec = newest
        return total


class StreamProgress:
    """Sums ``StreamingQueryProgress`` events of every query it sees."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        totals: dict[str, float] = defaultdict(float)
        started: set[str] = set()
        terminated: set[str] = set()
        self.totals = totals
        self.started = started
        self.terminated = terminated

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.add(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                totals["batches"] += 1
                totals["input_rows"] += p.numInputRows
                totals["trigger_ms"] += d.get("triggerExecution", 0)
                totals["add_batch_ms"] += d.get("addBatch", 0)
                totals["planning_ms"] += d.get("queryPlanning", 0)
                totals["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                for op in p.stateOperators:
                    totals["state_rows"] = max(totals["state_rows"], op.numRowsTotal)
                    totals["state_mem_bytes"] = max(totals["state_mem_bytes"], op.memoryUsedBytes)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                terminated.add(str(event.id))

        self.listener = _Listener()

    def wait_terminated(self, timeout_s: float = 10.0) -> None:
        """Block until the listener has seen every started query end
        (events reach it on the listener bus after ``awaitTermination``)."""
        deadline = time.monotonic() + timeout_s
        while not self.started <= self.terminated and time.monotonic() < deadline:
            time.sleep(0.01)


class Probe:
    """Per-call hooks a workload calls in traced mode: job group per call,
    status-store and span deltas attributed to passes or requests."""

    def __init__(self, spark, spans: Spans, stream: StreamProgress | None) -> None:
        self.spans = spans
        self.stream = stream
        self.status = StatusStoreDelta(spark)
        self.spark_totals: dict[str, float] = defaultdict(float)
        self.pass_spans: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
        self.request_spans: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
        self.request_jobs: list[int] = []
        self._gid = ""
        self._snap: tuple[dict, dict] = ({}, {})

    def _begin(self) -> None:
        self.status.take()  # drop whatever ran between calls
        self._snap = (dict(self.spans.calls), dict(self.spans.seconds))
        self._gid = self.status.begin_call()

    def _end(self, into: dict[str, list[float]]) -> int:
        calls0, secs0 = self._snap
        for k, n in self.spans.calls.items():
            into[k][0] += n - calls0.get(k, 0)
            into[k][1] += self.spans.seconds[k] - secs0.get(k, 0.0)
        return self.status.jobs_in(self._gid)

    def before_call(self) -> None:
        self._begin()

    def after_call(self) -> None:
        self.spark_totals["jobs"] += self._end(self.pass_spans)
        for k, v in self.status.take().items():
            self.spark_totals[k] += v

    def before_request(self) -> None:
        self._begin()

    def after_request(self) -> None:
        self.request_jobs.append(self._end(self.request_spans))
