"""Span tracing from outside the library.

A traced op swaps every public function of each layer module for a
wrapper that records a span (name, layer, parent, start, end) and gives
the span its own Spark job group. After the op, and outside its timed
region, the Spark status store (it works with ``spark.ui.enabled=false``)
tells which jobs ran in which group, and their stages' tasks, shuffle
bytes, spill and executor time; each job is charged to the innermost
span that was open when it was submitted. Spans stay in memory and are
written out once, when the run ends.

Lazy operators only build plans; their Spark work runs when the
benchmark materializes the frame. The benchmark wraps those actions in
spans of the layer whose frame it materializes (``Tracer.region``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "smartdatapipeline_spark"

#: layer = module name below the package; these are the modules the
#: workloads call into
LAYERS = (
    "session",
    "sources.readers",
    "sources.ingest",
    "sources.snapstore",
    "sources.sinks",
    "operators.pipeline",
    "operators.kpi",
    "operators.metrics",
    "operators.anomaly",
    "operators.forecast",
    "plans.scheduler",
    "plans.envelope",
    "functions.text",
    "functions.dedup",
    "functions.graph",
    "streaming.dedup",
    "streaming.windows",
)

#: status-store stage fields summed per op
STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
}


class Span:
    __slots__ = ("id", "parent", "name", "layer", "op", "t0", "t1", "w0", "w1",
                 "group", "action", "jobs")

    def __init__(self, sid, parent, name, layer, op, action):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.op, self.action = op, action
        self.group = f"perfbench-{sid}"
        self.jobs: list[int] = []
        self.w0 = time.time()
        self.t0 = time.perf_counter()
        self.t1 = self.w1 = None


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _measure(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _overlap(a_int, b_int) -> float:
    """Length of the intersection of two interval unions."""
    a, b = _union(a_int), _union(b_int)
    i = j = 0
    total = 0.0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            total += hi - lo
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[Span] = []
        self._thread = None
        self._op_name = None
        self._op_first = 0
        self._patches: list[tuple[object, str, object]] = []
        self._wrappers: dict[int, tuple[object, object]] = {}
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, fn in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    self._wrappers[id(fn)] = (fn, self._wrap(layer, fn))

    # -- wrapping -------------------------------------------------------

    def _wrap(self, layer, fn):
        tracer = self
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not tracer._thread:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _install(self) -> None:
        """Point every loaded module's reference to a layer function at
        its wrapper (modules bind imported functions by name)."""
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith(PKG) or mname.startswith("perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = self._wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, val))

    def _uninstall(self) -> None:
        for mod, attr, val in reversed(self._patches):
            setattr(mod, attr, val)
        self._patches.clear()

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str, action: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, layer,
                 self._op_name, action)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.w1 = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def region(self, name: str, layer: str, action: bool = False):
        """Span opened by the benchmark itself; a no-op outside a traced
        op. ``action=True`` marks an action the benchmark issues on a
        frame built by ``layer``: its Spark work is charged to that layer
        and the time to its first job counts as ``spark.pre_job_s``."""
        if self._thread is None:
            return contextlib.nullcontext()
        return self.span(name, layer, action=action)

    def begin_op(self, name: str) -> None:
        self._op_name = name
        self._op_first = len(self.spans)
        self._thread = threading.current_thread()
        self._install()
        self._root = self.span(name, "bench")
        self._root.__enter__()

    def end_op(self) -> dict:
        self._root.__exit__(None, None, None)
        self._uninstall()
        self._thread = None
        op = self._collect(self.spans[self._op_first:])
        op["name"] = self._op_name
        self.ops.append(op)
        return op

    def record_groups(self, name: str, groups: dict[str, str]) -> dict:
        """Collect the Spark work of job groups the benchmark did not open
        itself (a streaming query runs its micro-batches under its run
        id), charged to the given layers."""
        spans = []
        for group, layer in groups.items():
            s = Span(len(self.spans), None, f"{name}:{layer}", layer, name, False)
            s.group, s.t1, s.w1 = group, s.t0, s.w0
            self.spans.append(s)
            spans.append(s)
        op = self._collect(spans)
        op["name"] = name
        self.ops.append(op)
        return op

    # -- status store ---------------------------------------------------

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect(self, spans: list[Span]) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_span: dict[int, Span] = {}
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                job_span[j] = s
        jobs = {j: self._json(self._store.job(j)) for j in sorted(job_span)}
        stages: dict[int, dict] = {}
        stage_layer: dict[int, str] = {}
        stage_span: dict[int, Span] = {}
        for j, jd in jobs.items():
            for sid in jd["stageIds"]:
                if sid in stages:
                    continue
                try:
                    stages[sid] = self._json(self._store.lastStageAttempt(sid))
                except Exception:  # noqa: BLE001 — evicted or never submitted
                    continue
                stage_layer[sid] = job_span[j].layer
                stage_span[sid] = job_span[j]
        ran = {sid: sd for sid, sd in stages.items() if sd["status"] != "SKIPPED"}
        by_id = {s.id: s for s in spans}

        def enclosing_layers(s):
            out = set()
            while s is not None:
                out.add(s.layer)
                s = by_id.get(s.parent)
            return out

        per_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            per_layer[job_span[j].layer]["jobs"] += 1
        totals = defaultdict(float)
        for sid, sd in ran.items():
            lay = per_layer[stage_layer[sid]]
            for outer in enclosing_layers(stage_span[sid]):
                per_layer[outer]["incl_output_bytes"] += sd["outputBytes"]
            vals = {
                "stages": 1,
                "tasks": sd["numTasks"],
                "executor_run_s": sd["executorRunTime"] / 1e3,
                "executor_cpu_s": sd["executorCpuTime"] / 1e9,
                "spill_bytes": sd["memoryBytesSpilled"] + sd["diskBytesSpilled"],
                "stage_wall_s": ((sd.get("completionTime") or 0) - (sd.get("submissionTime") or 0)) / 1e3
                if sd.get("completionTime") and sd.get("submissionTime") else 0.0,
                **{k: sd[f] for k, f in STAGE_FIELDS.items()},
            }
            for k, v in vals.items():
                lay[k] += v
                totals[k] += v
        totals["jobs"] = len(jobs)
        # self time: span duration minus the part its children cover
        children: dict[int, list] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append((s.t0, s.t1))
        for s in spans:
            per_layer[s.layer]["self_s"] += (s.t1 - s.t0) - _measure(children[s.id])
        for layer in {s.layer for s in spans}:
            per_layer[layer]["incl_s"] = _measure(
                [(s.t0, s.t1) for s in spans if s.layer == layer])
        # python build: library spans not covered by any Spark job
        job_iv = [(jd["submissionTime"] / 1e3, jd["completionTime"] / 1e3)
                  for jd in jobs.values() if jd.get("submissionTime") and jd.get("completionTime")]
        lib_iv = [(s.w0, s.w1) for s in spans if s.layer != "bench"]
        totals["python_build_s"] = _measure(lib_iv) - _overlap(lib_iv, job_iv)
        pre = 0.0
        for s in spans:
            if s.action:
                subs = [jobs[j]["submissionTime"] / 1e3 for j in s.jobs
                        if jobs[j].get("submissionTime")]
                if subs:
                    pre += max(0.0, min(subs) - s.w0)
        totals["pre_job_s"] = pre
        return {"totals": dict(totals),
                "layers": {k: dict(v) for k, v in per_layer.items()},
                "spans": len(spans)}

    # -- results --------------------------------------------------------

    def per_op(self, key: str, layer: str | None = None) -> float:
        """Mean over traced ops of a total (``layer=None``) or of one
        layer's value."""
        if not self.ops:
            return 0.0
        vals = [(op["totals"] if layer is None else op["layers"].get(layer, {})).get(key, 0.0)
                for op in self.ops]
        return sum(vals) / len(vals)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                    "layer": s.layer, "start": s.w0, "end": s.w1,
                    "dur_s": s.t1 - s.t0, "jobs": s.jobs,
                }) + "\n")
            for op in self.ops:
                f.write(json.dumps({"op_summary": op}) + "\n")
            if extra:
                f.write(json.dumps({"run": extra}) + "\n")


class StreamProgress:
    """Micro-batch progress of a set of streaming queries.

    A ``StreamingQueryListener`` collects the progress events as plain
    dicts of the progress JSON, as they happen. Only traced runs register
    it; lag and drain figures come from each query's ``recentProgress``
    after the fact, so no callback traffic runs while measuring.
    """

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self.listener = None

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                rec = json.loads(event.progress.json)
                with outer._lock:
                    outer.records.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def stop(self, spark) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None
