"""ingest_refresh — the reference's ``POST /api/ingest`` loop on the
snapshot store (closed loop, one client).

Set-up loads a seeded history into fresh silver/gold tables through the
same call: all days but the last as CSV, which creates the tables, then
the last day as NDJSON, which merges into them, so both readers and the
merge path are warm before the first timed op. Each timed op reads one
raw batch (CSV and NDJSON alternate) and runs
``operators.pipeline.ingest_and_refresh`` with the snapshot store,
incremental refresh and storage-layer merge; every
``MAINTENANCE_EVERY``-th op also runs the nightly snapshot maintenance
job on both tables. A run holds whole maintenance cycles, so every run
has the same share of maintenance.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

from perfbench import common
from perfbench.gen import EPOCH0, IngestGen

#: half the ~20k rows of the reference's batches, so that a run fits the
#: benchmark's time budget
ROWS_PER_BATCH = 10_000
HISTORY_DAYS = 14
HISTORY_ROWS_PER_DAY = 1_000
MAINTENANCE_EVERY = 2
#: one build: a rebuild costs as much as a timed batch
SETUP_REPS = 1


def run(ctx) -> dict:
    from smartdatapipeline_spark.operators import pipeline as P
    from smartdatapipeline_spark.plans import scheduler as SCH
    from smartdatapipeline_spark.sources import readers as R
    from smartdatapipeline_spark.sources import snapstore as SS

    spark = ctx.spark
    inputs = common.reset_dir(os.path.join(ctx.work, "inputs"))
    mismatches: list[str] = []
    checked = {"ops": 0, "bad_ops": 0, "bad_mismatches": 0}
    state: dict = {}

    def ingest(path: str, fmt: str, silver: str, gold: str) -> dict:
        with ctx.region("sources.readers.read", "sources.readers"):
            raw = R.read_csv(spark, path) if fmt == "csv" else R.read_json_auto(spark, path)
        return P.ingest_and_refresh(spark, raw, silver, gold, store="snapshot",
                                    incremental=True, silver_upsert="merge")

    def check_stats(where: str, stats: dict, truth: dict) -> bool:
        bad = [f"{where}: {k} {stats.get(k)} != {truth[k]}"
               for k in ("ingested_rows", "skipped_rows", "duplicate_rows")
               if stats.get(k) != truth[k]]
        mismatches.extend(bad)
        return not bad

    def build(rep: int) -> None:
        store = common.reset_dir(os.path.join(ctx.work, f"store{rep}"))
        silver, gold = os.path.join(store, "silver"), os.path.join(store, "gold")
        gen = IngestGen(ctx.seed, ROWS_PER_BATCH, HISTORY_DAYS, HISTORY_ROWS_PER_DAY)
        for days, fmt in ((range(HISTORY_DAYS - 1), "csv"),
                          (range(HISTORY_DAYS - 1, HISTORY_DAYS), "json")):
            path = os.path.join(inputs, f"history_{days.start:03d}.{fmt}")
            meta = gen.history(path, days, fmt)
            stats = ingest(path, fmt, silver, gold)
            check_stats(f"build{rep}/{os.path.basename(path)}", stats, {
                "ingested_rows": meta["rows"], "skipped_rows": 0, "duplicate_rows": 0})
        state.update(gen=gen, silver=silver, gold=gold, store=store)

    setup_s, builds = common.timed_setup(SETUP_REPS, build, lambda: None)
    silver, gold, store, gen = state["silver"], state["gold"], state["store"], state["gen"]
    # compact into one batch, so every maintenance run rewrites the live
    # batches (with the job's default target of four, the few batches of
    # a short run are left as they are and maintenance does no work)
    maint = SCH.snapshot_maintenance_job(spark, [silver, gold], target_batches=1,
                                         grace_sec=0.0)
    batch_s: list[float] = []
    traced_batch_s: list[float] = []
    maint_s: list[float] = []
    totals = {"rows": 0, "batches": 0, "seconds": 0.0}
    layer_obs: dict[str, list[float]] = {k: [] for k in (
        "commits", "written_ratio", "live_files", "recompute_ratio")}

    def prepare(i):
        meta = gen.batch(i, inputs)
        if common.traced_op(ctx, i, MAINTENANCE_EVERY):
            meta["files_before"] = common.file_set(store)
            meta["versions_before"] = SS.table_version(silver) + SS.table_version(gold)
        return meta

    def op(i, meta):
        stats = ingest(meta["path"], meta["format"], silver, gold)
        m_s = 0.0
        if (i + 1) % MAINTENANCE_EVERY == 0:
            t0 = time.perf_counter()
            with ctx.region("plans.scheduler.snapshot_maintenance_job.run", "plans.scheduler"):
                maint()
            m_s = time.perf_counter() - t0
        return stats, m_s

    def after(i, meta, out, seconds, traced):
        stats, m_s = out
        checked["ops"] += 1
        n_before = len(mismatches)
        if not check_stats(f"batch{meta['batch']}", stats, meta):
            checked["bad_ops"] += 1
            checked["bad_mismatches"] += len(mismatches) - n_before
        (traced_batch_s if traced else batch_s).append(seconds - m_s)
        if m_s:
            maint_s.append(m_s)
        if not traced:
            totals["rows"] += meta["inserted_rows"]
            totals["batches"] += 1
            totals["seconds"] += seconds - m_s
        if "files_before" in meta:
            before = meta["files_before"]
            written = sum(sz for p, sz in common.file_set(store).items() if p not in before)
            layer_obs["written_ratio"].append(written / meta["bytes"])
            layer_obs["commits"].append(
                SS.table_version(silver) + SS.table_version(gold) - meta["versions_before"])
            layer_obs["live_files"].append(
                len(SS.read_table(spark, silver).inputFiles())
                + len(SS.read_table(spark, gold).inputFiles()))
            refreshed = (stats.get("refresh") or {}).get("refreshed_days", 0)
            layer_obs["recompute_ratio"].append(refreshed / len(meta["touched_days"]))

    common.closed_loop(ctx, prepare, op, after, block=MAINTENANCE_EVERY)
    n_ops = checked["ops"]

    # oracle: final gold == DuckDB daily KPI over every row that silver must hold
    gold_bad = check_gold(spark, SS, gold, gen.inserted)
    other_bad = len(mismatches) - checked["bad_mismatches"] + len(gold_bad)
    mismatches.extend(gold_bad)

    e2e = {
        "op_p50_s": common.median(batch_s),
        "op_p90_s": common.quantile(batch_s, 0.9),
        # maintenance included at its schedule rate, so the figure does not
        # step with how many maintenance runs fit in the window
        "throughput_per_s": totals["rows"] / (
            totals["seconds"] + totals["batches"] / MAINTENANCE_EVERY
            * (common.median(maint_s) if maint_s else 0.0)),
    }
    e2e["batch_s"] = e2e["op_p50_s"]
    layer = {}
    if ctx.trace:
        mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
        t = ctx.tracer
        n_maint = sum(1 for op in t.ops if op["layers"].get("plans.scheduler"))
        layer = {
            "sources.snapstore.commits": mean(layer_obs["commits"]),
            "sources.snapstore.bytes_written_per_input_byte": mean(layer_obs["written_ratio"]),
            "sources.snapstore.live_files": layer_obs["live_files"][-1] if layer_obs["live_files"] else 0,
            "operators.pipeline.days_recomputed_per_day_touched": mean(layer_obs["recompute_ratio"]),
            "plans.scheduler.maintenance_s": (
                sum(op["layers"].get("plans.scheduler", {}).get("incl_s", 0.0) for op in t.ops)
                / n_maint if n_maint else 0.0),
            "plans.scheduler.bytes_rewritten": (
                sum(op["layers"].get("plans.scheduler", {}).get("incl_output_bytes", 0.0)
                    for op in t.ops) / n_maint if n_maint else 0.0),
        }
    return {
        "setup_s": setup_s,
        "e2e": e2e,
        "overhead_s": (common.median(traced_batch_s) - common.median(batch_s)
                       if traced_batch_s else 0.0),
        "layer": layer,
        "attempted": n_ops + 1,
        # timed ops whose stats disagree, plus one for the set-up and final-gold checks
        "failed": checked["bad_ops"] + (1 if other_bad else 0),
        "mismatches": mismatches,
        "info": {"ops": n_ops, "batch_s": [round(x, 4) for x in batch_s],
                 "traced_batch_s": [round(x, 4) for x in traced_batch_s],
                 "maintenance_s": [round(x, 4) for x in maint_s],
                 "setup_builds_s": [round(x, 4) for x in builds],
                 "valid_rows_committed": totals["rows"]},
    }


def check_gold(spark, SS, gold_root: str, inserted) -> list[str]:
    got = SS.read_table(spark, gold_root).toPandas()
    ev = pa.table({"sec": [r[0] for r in inserted], "metric": [r[1] for r in inserted],
                   "cents": [r[2] for r in inserted]})
    con = duckdb.connect()
    con.register("ev", ev)
    want = con.execute("""
        SELECT CAST(to_timestamp(sec + $epoch0) AT TIME ZONE 'UTC' AS DATE) AS metric_date,
               metric, SUM(cents) AS cents, COUNT(*) AS n
        FROM ev GROUP BY 1, 2 ORDER BY 1, 2""", {"epoch0": int(EPOCH0.timestamp())}).fetchall()
    con.close()
    exp = {(str(d), m): (c / 100.0, n) for d, m, c, n in want}
    out = []
    seen = set()
    for r in got.itertuples(index=False):
        key = (str(r.metric_date), r.metric)
        seen.add(key)
        if key not in exp:
            out.append(f"gold has unexpected row {key}")
            continue
        s, n = exp[key]
        if r.value_count != n or r.source_id != 1 or not common.close(r.value_sum, s) \
                or not common.close(r.value_avg, s / n):
            out.append(f"gold row {key}: got sum={r.value_sum} avg={r.value_avg} "
                       f"n={r.value_count}, want sum={s} n={n}")
    missing = set(exp) - seen
    if missing:
        out.append(f"gold misses {len(missing)} day/metric rows, e.g. {sorted(missing)[:3]}")
    return out
