"""stream_events — stateful streaming over a file source (open loop).

Three stateful queries read one file source with
``maxFilesPerTrigger=1``, so micro-batch k consumes file k:
``streaming.dedup.stream_dedup``, ``streaming.windows.windowed_kpis`` and
``streaming.windows.session_window_kpis``. A generator thread drops one
seeded event file on a fixed schedule, below capacity, whether or not
the queries keep up; a query's lag for a file runs from the file's
scheduled drop time to the end of the query's micro-batch that consumed
it. Before the open loop, a drain phase measures capacity: a backlog
of files is staged into the source at once and the queries take it one
file per micro-batch, back to back, timed from the first of those
micro-batches' start to the last one's end. The drain also warms the
queries before the open loop. The state-store
partition count is set from the per-file volume before the queries
start (``session.stream_state_partitions``) and is frozen from batch 0
on.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import duckdb
import pyarrow as pa

from perfbench import common
from perfbench.gen import StreamGen
from perfbench.trace import StreamProgress

EVENTS_PER_FILE = 2_000
USERS = 5_000
#: below capacity (a file takes the three queries 1-1.6 s on a 4-vCPU
#: VM), so lag is processing time rather than queueing
DROP_EVERY_S = 2.0
BACKLOG_FILES = 4
#: files pushed through the queries in set-up, one micro-batch each,
#: before the drain
WARMUP_FILES = 1
#: one start: a restart of the three queries costs as much as the window
SETUP_REPS = 1
SCHEMA = "ts timestamp, user_id bigint, metric string, value double"
QUERIES = ("dedup", "windows", "sessions")
LAYER = {"dedup": "streaming.dedup", "windows": "streaming.windows",
         "sessions": "streaming.windows"}


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _log_offset(off) -> int:
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["logOffset"])


class QuerySet:
    """The three stateful queries over one source directory, each with
    its own memory sink and checkpoint."""

    def __init__(self, spark, src: str, tag: str, work: str):
        from smartdatapipeline_spark.streaming import dedup as SD
        from smartdatapipeline_spark.streaming import windows as SW

        def source():
            return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)

        frames = {
            "dedup": SD.stream_dedup(source(), keys=("metric", "ts"), watermark="1 hour"),
            "windows": SW.windowed_kpis(source(), window="1 hour", watermark="1 hour"),
            "sessions": SW.session_window_kpis(source(), gap="30 minutes", watermark="1 hour"),
        }
        self.names = {q: f"{q}_{tag}" for q in QUERIES}
        self.queries = {}
        for q, df in frames.items():
            self.queries[q] = (
                df.writeStream.format("memory").queryName(self.names[q]).outputMode("append")
                .option("checkpointLocation", os.path.join(work, f"ckpt_{q}_{tag}")).start())

    def wait(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def outputs(self, spark) -> dict:
        from pyspark.sql import functions as F

        def rows(q, cols):
            return sorted(tuple(r) for r in spark.table(self.names[q]).select(*cols).collect())

        return {
            "dedup": rows("dedup", [F.unix_micros("ts"), "user_id", "metric", "value"]),
            "windows": rows("windows", [F.unix_micros("window_start"), "metric", "value_sum",
                                        "value_count"]),
            "sessions": rows("sessions", ["user_id", F.unix_micros("session_start"),
                                          F.unix_micros("session_end_gap"), "n_events"]),
        }


def run(ctx) -> dict:
    from smartdatapipeline_spark.session import stream_state_partitions

    spark = ctx.spark
    root = common.reset_dir(os.path.join(ctx.work, "stream"))
    # the state partition count is a session setting; what ran before
    # gets it back when the queries stop
    batch_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(stream_state_partitions(EVENTS_PER_FILE)))

    def drop(path_dir: str, k: int, data: bytes, mtime: float | None = None) -> float:
        """Move file ``k`` into the source; returns its modification time."""
        stage = os.path.join(root, f"staging_{k:05d}.parquet")
        with open(stage, "wb") as f:
            f.write(data)
        if mtime is not None:
            # the file source orders files by modification time
            os.utime(stage, (mtime, mtime))
        path = os.path.join(path_dir, f"events_{k:05d}.parquet")
        os.rename(stage, path)
        return os.stat(path).st_mtime

    # -- set-up: start the queries and push the warm-up files through ---
    live: dict = {}

    def build(rep: int) -> None:
        if "qs" in live:
            live["qs"].stop()
        gen = StreamGen(ctx.seed, EVENTS_PER_FILE, USERS, "live")
        src = common.reset_dir(os.path.join(root, f"src{rep}"))
        qs = QuerySet(spark, src, f"r{rep}", root)
        for k in range(WARMUP_FILES):
            mtime = drop(src, k, gen.next_file())
            qs.wait()
        live.update(gen=gen, src=src, qs=qs, mtime=mtime)

    setup_s, builds = common.timed_setup(SETUP_REPS, build, lambda: None)
    gen, src, qs = live["gen"], live["src"], live["qs"]

    # -- drain: the backlog goes into the live source at once, with
    # modification times in file order (the file source takes the oldest
    # first), after the warm-up file's ------------------------------------
    backlog = range(WARMUP_FILES, WARMUP_FILES + BACKLOG_FILES)
    t_files = max(time.time() - 1.0, live["mtime"] + 0.01)
    for k in backlog:
        drop(src, k, gen.next_file(), t_files + 0.01 * (k - backlog.start))
    qs.wait()
    # drain time: first backlog micro-batch start to last backlog
    # micro-batch end, over the three queries
    spans = [(_epoch(r["timestamp"]),
              _epoch(r["timestamp"]) + r["durationMs"]["triggerExecution"] / 1e3)
             for q in qs.queries.values() for r in (json.loads(p.json) for p in q.recentProgress)
             if r.get("numInputRows") and _log_offset(r["sources"][0]["endOffset"]) in backlog]
    drain_s = max(e for _, e in spans) - min(s for s, _ in spans)

    # -- open loop -------------------------------------------------------
    n_files = max(4, int(ctx.clock.seconds / DROP_EVERY_S))
    if ctx.clock.max_ops is not None:
        n_files = ctx.clock.max_ops
    payloads = [gen.next_file() for _ in range(n_files)]
    scheduled: dict[int, float] = {}
    dropped: dict[int, float] = {}
    progress = StreamProgress()
    first = backlog.stop
    trace_from = first + (n_files // 2 if ctx.trace else n_files)

    def generator(start: float) -> None:
        for j, data in enumerate(payloads):
            k = first + j
            due = start + j * DROP_EVERY_S
            scheduled[k] = due
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            if k == trace_from:
                progress.listen(spark)
            drop(src, k, data)
            dropped[k] = time.time()

    start = time.time() + 0.2
    thread = threading.Thread(target=generator, args=(start,), daemon=True)
    thread.start()
    thread.join()
    qs.wait()
    progress.stop(spark)
    records = [json.loads(r.json) for q in qs.queries.values() for r in q.recentProgress]

    # lag per file and query: scheduled drop -> end of the query's
    # micro-batch that consumed the file
    lags: dict[tuple[str, int], float] = {}
    per_batch = []
    backlog_max = 0
    for r in records:
        if not r.get("numInputRows"):
            continue
        k = _log_offset(r["sources"][0]["endOffset"])
        t_start = _epoch(r["timestamp"])
        per_batch.append(r)
        if k in scheduled:
            lags[(r["name"], k)] = (t_start + r["durationMs"]["triggerExecution"] / 1e3
                                    - scheduled[k])
            # files waiting when the micro-batch started, this one included
            backlog_max = max(backlog_max, sum(1 for kk, t in dropped.items()
                                               if kk >= k and t <= t_start))
    untraced_lag = [v for (_, k), v in lags.items() if k < trace_from]
    traced_lag = [v for (_, k), v in lags.items() if k >= trace_from]
    file_lag = {k: max(v for (_, kk), v in lags.items() if kk == k)
                for k in sorted({k for _, k in lags})}
    missed = [k for k in scheduled if sum(1 for _, kk in lags if kk == k) != len(QUERIES)]

    # flush: a far-future event moves the watermark past every real window
    drop(src, first + n_files, gen.sentinel_file())
    qs.wait()
    live_out = qs.outputs(spark)
    layer = {}
    if ctx.trace:
        op = ctx.tracer.record_groups("stream", {str(q.runId): LAYER[name]
                                                 for name, q in qs.queries.items()})
        traced_batches = [r for r in progress.records if r.get("numInputRows")]
        layer = stream_layer_metrics(traced_batches, op, len(per_batch), backlog_max)
    state_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    qs.stop()
    spark.conf.set("spark.sql.shuffle.partitions", batch_partitions)

    mismatches = compare(live_out, gen.events)
    late = [dropped[k] - scheduled[k] for k in dropped]
    return {
        "setup_s": setup_s,
        "e2e": {
            "op_p50_s": common.median(untraced_lag),
            "op_p90_s": common.quantile(untraced_lag, 0.9),
            "throughput_per_s": BACKLOG_FILES * EVENTS_PER_FILE / drain_s,
            "batch_s": drain_s,
        },
        "overhead_s": (common.median(traced_lag) - common.median(untraced_lag)
                       if traced_lag else 0.0),
        "layer": layer,
        # each open-loop file, and the final output
        "attempted": len(scheduled) + 1,
        "failed": len(missed) + (1 if mismatches else 0),
        "mismatches": mismatches,
        "info": {
            "files": n_files, "drop_every_s": DROP_EVERY_S,
            "file_lag_s": [round(v, 4) for v in file_lag.values()],
            "generator_late_max_s": round(max(late), 4) if late else 0.0,
            "drain_s": round(drain_s, 4), "backlog_files_max": backlog_max,
            "state_partitions": state_partitions,
            "setup_builds_s": [round(x, 4) for x in builds],
        },
    }


def stream_layer_metrics(batches: list[dict], op: dict, n_batches: int, backlog_max: int) -> dict:
    def med(key):
        vals = [b["durationMs"].get(key, 0) / 1e3 for b in batches]
        return common.median(vals) if vals else 0.0

    last: dict[str, dict] = {}
    for b in batches:
        last[b["runId"]] = b
    state_rows = sum(s.get("numRowsTotal", 0) for b in last.values()
                     for s in b.get("stateOperators", []))
    state_mem = sum(s.get("memoryUsedBytes", 0) for b in last.values()
                    for s in b.get("stateOperators", []))
    per = {k: v / max(n_batches, 1) for k, v in op["totals"].items()}
    return {
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.state_rows": state_rows,
        "streaming.state_memory_bytes": state_mem,
        "streaming.backlog_files_max": backlog_max,
        # Spark work per micro-batch (all three queries' batches)
        "spark.jobs": per.get("jobs", 0.0),
        "spark.stages": per.get("stages", 0.0),
        "spark.tasks": per.get("tasks", 0.0),
        "spark.shuffle_write_bytes": per.get("shuffle_write_bytes", 0.0),
        "spark.shuffle_read_bytes": per.get("shuffle_read_bytes", 0.0),
        "spark.spill_bytes": per.get("spill_bytes", 0.0),
        "spark.executor_run_s": per.get("executor_run_s", 0.0),
        "spark.executor_cpu_s": per.get("executor_cpu_s", 0.0),
        "spark.stage_wall_s": per.get("stage_wall_s", 0.0),
    }


# ------------------------------------------------------------------ oracle


def expected(events) -> dict:
    con = duckdb.connect()
    con.register("ev", pa.table({
        "ts": pa.array([e[0] for e in events], pa.int64()),
        "user_id": pa.array([e[1] for e in events], pa.int64()),
        "metric": pa.array([e[2] for e in events], pa.string()),
        "value": pa.array([e[3] for e in events], pa.float64()),
    }))
    hour = 3_600_000_000
    gap = 30 * 60 * 1_000_000
    out = {
        "dedup": sorted(con.execute("SELECT DISTINCT ts, user_id, metric, value FROM ev").fetchall()),
        "windows": sorted(con.execute(f"""
            SELECT ts // {hour} * {hour}, metric,
                   CAST(SUM(CAST(value AS DECIMAL(28, 4))) AS DOUBLE), COUNT(*)
            FROM ev GROUP BY 1, 2""").fetchall()),
        "sessions": sorted(con.execute(f"""
            WITH f AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) < {gap}
                            THEN 0 ELSE 1 END AS new
                FROM ev),
            g AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid FROM f)
            SELECT user_id, MIN(ts), MAX(ts) + {gap}, COUNT(*) FROM g GROUP BY user_id, sid
            """).fetchall()),
    }
    con.close()
    return out


def compare(got: dict, events) -> list[str]:
    """Stream output (sentinel excluded) against the batch computation
    over the same events."""
    want = expected(events)
    got = {
        "dedup": [r for r in got["dedup"] if r[1] != StreamGen.SENTINEL_USER],
        "windows": [r for r in got["windows"] if r[1] != "__flush__"],
        "sessions": [r for r in got["sessions"] if r[0] != StreamGen.SENTINEL_USER],
    }
    out = []
    for q in QUERIES:
        g, w = got[q], want[q]
        same = len(g) == len(w) and all(
            all(common.close(a, b) for a, b in zip(x, y)) for x, y in zip(g, w))
        if not same:
            out.append(f"{q}: {len(g)} rows differ from the {len(w)} of the batch computation")
    return out
