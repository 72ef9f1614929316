"""Run environment, Spark lifecycle and the shared timing loop.

Everything here is the benchmark's own machinery; the library under
test is only imported after ``pin_environment`` has fixed the knobs it
reads at import time (``SPARK_GRAFT_CPUS``).
"""

from __future__ import annotations

import copy
import math
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything a run writes lives under this ignored directory of the checkout
OUT = os.path.join(ROOT, ".perfbench")


def cpu_count() -> int:
    """Cores this process may run on — what ``nproc`` prints when no
    ``OMP_NUM_THREADS`` override is set."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Fix the run environment before the library or Spark is imported.

    - ``SPARK_GRAFT_CPUS``: ``session.get_spark`` builds ``local[32]``
      without it, whatever the core count.
    - ``SPARK_LOCAL_DIRS``: shuffle and spill files stay in the checkout.
    - ``PYTHONPATH``: pandas-UDF workers (the forecast read) import the
      library by name, so the repo root must be on their path.
    """
    cpus = cpu_count()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the engine's own driver heap default applies
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ.pop("SPARK_MASTER", None)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str):
    """The engine's own session factory, plus settings that keep every
    file the JVM writes inside the work directory."""
    from smartdatapipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def describe_spark(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "cpus": cpu_count(),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
    }


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict:
    """Peak resident set size of the driver's Python process and of its
    JVM, in MB."""
    pid = jvm_pid(spark)
    return {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": (_vm_hwm_kb(pid) if pid else 0) / 1024.0}


def jvm_memory(spark) -> dict:
    """The driver JVM's garbage collections and collection seconds so
    far, and the sum of its heap pools' peak usage in MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
    return {"gc_collections": sum(b.getCollectionCount() for b in gcs),
            "gc_s": sum(b.getCollectionTime() for b in gcs) / 1e3,
            "heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in heap) / 2**20}


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave it running
            proc.kill()
            proc.wait(timeout=30)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the ``statistics.quantiles``
    'inclusive' rule) for ``0 < q < 1``, defined for one sample too."""
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1])


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def close(a, b, rel: float = 1e-9) -> bool:
    """Oracle equality: floats within ``rel`` of the expected value
    (NaN equals NaN, None equals None), anything else exactly."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= rel * max(1.0, abs(b))
    return a == b


class Clock:
    """Run deadline shared by every phase of one workload."""

    def __init__(self, seconds: float, max_ops: int | None):
        self.seconds = seconds
        self.max_ops = max_ops

    def loop(self, block: int = 1, min_blocks: int = 1):
        """Yield op indices until the time budget (or ``max_ops``) is
        spent. The budget is checked only between whole blocks of
        ``block`` ops, after at least ``min_blocks`` blocks, so every run
        holds whole blocks."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while True:
            if self.max_ops is not None:
                if i >= self.max_ops:
                    return
            elif (i >= block * min_blocks and i % block == 0
                  and time.perf_counter() >= deadline):
                return
            yield i
            i += 1


def run_part(ctx, name: str, mod, seconds: float, tracer=None) -> dict:
    """Run workload module ``mod`` as one part of a combined workload:
    its own work directory and ``seconds`` of the run's budget, and
    optionally its own tracer."""
    sub = copy.copy(ctx)
    sub.work = reset_dir(os.path.join(ctx.work, name))
    sub.clock = Clock(seconds, ctx.clock.max_ops)
    if tracer is not None:
        sub.tracer = tracer
    return mod.run(sub)


def merge_outcomes(res: dict) -> dict:
    """Ops, failures, mismatches and info of a combined workload's
    parts (``res``: part name -> the part's result)."""
    return {
        "attempted": sum(r["attempted"] for r in res.values()),
        "failed": sum(r["failed"] for r in res.values()),
        "mismatches": [f"{name}: {m}" for name, r in res.items() for m in r["mismatches"]],
        "info": {name: {"setup_s": round(r["setup_s"], 4), "e2e": r["e2e"],
                        "overhead_s": r["overhead_s"], **r["info"]}
                 for name, r in res.items()},
    }


def timed_setup(reps: int, build, warm_up) -> tuple[float, list[float]]:
    """Set-up time: ``build(rep)`` makes the starting state from scratch
    ``reps`` times (the last one is kept), then ``warm_up()`` runs once
    (JVM, codegen, Python workers). Returns (median build + warm-up,
    per-build seconds)."""
    builds = []
    for rep in range(reps):
        t0 = time.perf_counter()
        build(rep)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up()
    return median(builds) + time.perf_counter() - t0, builds


def traced_op(ctx, i: int, block: int = 1) -> bool:
    """Whether op ``i`` is traced: every second block of a traced run."""
    return ctx.trace and (i // block) % 2 == 1


def closed_loop(ctx, prepare, op, after=None, block: int = 1, min_blocks: int = 1):
    """One client, next op only after the previous one returns.

    ``prepare(i)`` builds op ``i``'s inputs outside the timed region,
    ``op(i, inputs)`` is timed, ``after(i, inputs, out, seconds, traced)``
    runs untimed (oracle bookkeeping). The run holds whole blocks of
    ``block`` ops, at least ``min_blocks`` (``Clock.loop``). In a traced
    run every second block is traced, at least one, so traced and
    untraced samples share the same conditions and the same op mix, and
    the difference of their medians is the tracing overhead. Returns
    ``(untraced, traced)`` lists of op seconds.
    """
    untraced: list[float] = []
    traced: list[float] = []
    for i in ctx.clock.loop(block, max(min_blocks, 2 if ctx.trace else 1)):
        inputs = prepare(i)
        is_traced = traced_op(ctx, i, block)
        if is_traced:
            ctx.tracer.begin_op(f"op{i}")
        t0 = time.perf_counter()
        out = op(i, inputs)
        dt = time.perf_counter() - t0
        if is_traced:
            ctx.tracer.end_op()
        (traced if is_traced else untraced).append(dt)
        if after is not None:
            after(i, inputs, out, dt, is_traced)
    return untraced, traced


def file_set(path: str) -> dict[str, int]:
    out = {}
    for dp, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out
