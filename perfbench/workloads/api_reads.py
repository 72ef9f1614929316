"""api_reads — the reference's read endpoints over the gold snapshot
(closed loop, one client).

Set-up builds gold from seeded raw events through the ingest pipeline
(snapshot store), then serves one whole block of the mix as warm-up
(codegen, the forecast's pandas-UDF workers, and the JIT compilation of
the planner, which keeps a request's latency falling over the first
requests). Each timed op is one
request from a seeded mix that holds the same share of each kind for
every seed, and a run serves whole blocks of the mix, at least two:
fetch, CSV export, rolling z-score, forecast and reliability. A request
reads gold through ``sources.snapstore.read_table``, builds its frame
with the read operators, ``collect()``s it and wraps the rows in
``plans.envelope.ok_envelope`` as the API would return them. Python
build, Catalyst planning and job scheduling are most of each request.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

from perfbench import common
from perfbench.gen import ApiGen

DAYS = 210
EVENTS_PER_DAY = 8
RAW_CHUNKS = 1
#: one build: a rebuild costs as much as a timed block of the mix
SETUP_REPS = 1
MIN_BLOCKS = 2
HORIZON = 7
Z_WINDOW = 7

#: the layer that builds each request's frame
LAYER = {
    "fetch": "operators.metrics",
    "export": "operators.metrics",
    "zscore": "operators.anomaly",
    "forecast": "operators.forecast",
    "reliability": "operators.forecast",
}


def run(ctx) -> dict:
    from smartdatapipeline_spark.operators import anomaly as A
    from smartdatapipeline_spark.operators import forecast as FC
    from smartdatapipeline_spark.operators import metrics as M
    from smartdatapipeline_spark.operators import pipeline as P
    from smartdatapipeline_spark.plans import envelope as EN
    from smartdatapipeline_spark.sources import readers as R
    from smartdatapipeline_spark.sources import snapstore as SS

    spark = ctx.spark
    inputs = common.reset_dir(os.path.join(ctx.work, "inputs"))
    gen = ApiGen(ctx.seed, DAYS, EVENTS_PER_DAY)
    raw_paths = gen.raw(inputs, RAW_CHUNKS)
    # the first block of the mix is the warm-up; the timed requests follow it
    n_timed = 100_000 if ctx.clock.max_ops is None else ctx.clock.max_ops
    block = len(gen.MIX)
    requests = gen.requests(block + n_timed)
    warm, requests = requests[:block], requests[block:]

    def serve(req: dict, gold_root: str) -> dict:
        gold = SS.read_table(spark, gold_root)
        kind, m = req["kind"], req["metric"]
        window = dict(metric=m, start_date=req["start"], end_date=req["end"])
        if kind == "fetch":
            df = M.normalize_metric_rows(M.fetch_metric_daily(gold, **window), agg=req["agg"])
        elif kind == "export":
            df = M.export_csv_frame(gold, **window)
        else:
            series = M.normalize_metric_rows(M.fetch_metric_daily(gold, **window), agg="sum")
            if kind == "zscore":
                df = A.rolling_zscore_api(series, window=Z_WINDOW)
            elif kind == "forecast":
                df = FC.normalize_forecast_contract(FC.forecast(
                    series.select("metric", "metric_date", "value"), horizon_days=HORIZON))
            else:
                _, df = FC.reliability(series.select("metric", "metric_date", "value"))
        with ctx.region(f"{LAYER[kind]}.{kind}:collect", LAYER[kind], action=True):
            rows = df.collect()
        return EN.ok_envelope([r.asDict() for r in rows], metric=m, params=req)

    stores = {}

    def build(rep: int) -> None:
        store = common.reset_dir(os.path.join(ctx.work, f"store{rep}"))
        stores["gold"] = os.path.join(store, "gold")
        for p in raw_paths:
            P.ingest_and_refresh(spark, R.read_csv(spark, p), os.path.join(store, "silver"),
                                 stores["gold"], store="snapshot", incremental=True,
                                 silver_upsert="merge")

    def warm_up() -> None:
        for req in warm:
            serve(req, stores["gold"])

    setup_s, builds = common.timed_setup(SETUP_REPS, build, warm_up)
    gold_root = stores["gold"]

    served: list[tuple[dict, dict, bool]] = []
    untraced_by_kind: dict[str, list[float]] = {k: [] for k in LAYER}
    traced_by_kind: dict[str, list[float]] = {k: [] for k in LAYER}
    scan_ratio: list[float] = []
    gold_files = SS.read_table(spark, gold_root).inputFiles()
    gold_bytes = sum(os.path.getsize(f.replace("file://", "")) for f in gold_files)

    def after(i, req, env, seconds, traced):
        served.append((req, env, traced))
        (traced_by_kind if traced else untraced_by_kind)[req["kind"]].append(seconds)
        if traced:
            op = ctx.tracer.ops[-1]
            scan_ratio.append(op["totals"].get("input_bytes", 0.0) / gold_bytes)

    # whole blocks only, so every run holds the same share of each kind
    # and the percentiles do not jump between kinds from run to run; at
    # least two, so p90 does not rest on one request of each slow kind
    untraced, traced = common.closed_loop(
        ctx, lambda i: requests[i], lambda i, req: serve(req, gold_root), after,
        block=block, min_blocks=MIN_BLOCKS)

    bad = check(gold_files, served)
    mismatches = [m for _, m in bad]
    e2e = {
        "op_p50_s": common.median(untraced),
        "op_p90_s": common.quantile(untraced, 0.9),
        "throughput_per_s": len(untraced) / sum(untraced),
        # one whole block of the mix (all of the samples if a run is cut
        # short of one, as with --ops)
        "batch_s": common.median([sum(untraced[k:k + block])
                                  for k in range(0, len(untraced) - block + 1, block)]
                                 or [sum(untraced)]),
    }
    layer = {}
    if ctx.trace:
        layer["sources.snapstore.scan_bytes_per_read"] = sum(scan_ratio) / len(scan_ratio)
        layer["sources.snapstore.live_files"] = len(gold_files)
    return {
        "setup_s": setup_s,
        "e2e": e2e,
        "overhead_s": overhead(untraced_by_kind, traced_by_kind, gen.MIX),
        "layer": layer,
        "attempted": len(served),
        "failed": len({i for i, _ in bad}),
        "mismatches": mismatches,
        "info": {
            "ops": len(served),
            "samples_untraced": len(untraced),
            "samples_above_p90": sum(1 for x in untraced if x > e2e["op_p90_s"]),
            "p50_by_kind_s": {k: round(common.median(v), 4) for k, v in untraced_by_kind.items() if v},
            "setup_builds_s": [round(x, 4) for x in builds],
            "gold_rows": DAYS * len(gen.METRICS),
            "gold_files": len(gold_files),
            "gold_bytes": gold_bytes,
        },
    }


def overhead(untraced: dict, traced: dict, mix) -> float:
    """Traced minus untraced median latency per request kind, weighted
    by the kind's share of the mix (traced and untraced ops do not hold
    the same kinds in the same proportions)."""
    kinds = [k for k in untraced if untraced[k] and traced[k]]
    if not kinds:
        return 0.0
    weight = {k: mix.count(k) for k in kinds}
    total = sum(weight.values())
    return sum(weight[k] * (common.median(traced[k]) - common.median(untraced[k]))
               for k in kinds) / total


# ------------------------------------------------------------------ oracle


def _fetch_sql(agg: str) -> str:
    value = {"sum": "value_sum", "avg": "value_sum / NULLIF(value_count, 0)",
             "count": "CAST(value_count AS DOUBLE)"}[agg]
    return f"""
        SELECT metric_date, source_id, metric, value_sum,
               value_sum / NULLIF(value_count, 0) AS value_avg, value_count,
               {value} AS value
        FROM gold WHERE metric = $m AND metric_date >= CAST($s AS DATE)
                    AND metric_date <= CAST($e AS DATE)
        ORDER BY metric_date, source_id, metric"""


_ZSCORE_SQL = f"""
    WITH s AS ({_fetch_sql("sum")})
    SELECT metric_date, value, COUNT(value) OVER w AS n,
           CAST(SUM(CAST(value AS DECIMAL(38, 2))) OVER w AS DOUBLE) AS sm,
           CAST(SUM(CAST(value * value AS DECIMAL(38, 4))) OVER w AS DOUBLE) AS sq
    FROM s
    WINDOW w AS (PARTITION BY metric ORDER BY metric_date
                 ROWS BETWEEN {Z_WINDOW} PRECEDING AND 1 PRECEDING)
    ORDER BY metric_date"""


def _zscore(rows) -> list[tuple]:
    """``rolling_zscore_api`` from DuckDB's decimal-exact frame sums:
    sample stddev, and the flat-window sentinel."""
    out = []
    for day, v, n, s, sq in rows:
        z, outlier = None, False
        if v is not None and n >= 2:
            mu = s / n
            var = (sq - (s * s) / n) / (n - 1)
            sigma = math.sqrt(var) if var > 0 else 0.0
            if sigma == 0:
                outlier = v != mu
                z = 1e9 if outlier else 0.0
            else:
                z = (v - mu) / sigma
                outlier = abs(z) >= 3.0
        out.append((day, z, outlier))
    return out


def check(gold_files: list[str], served) -> list[tuple[int, str]]:
    """Relational reads against DuckDB over the same gold files; model
    reads against the forecast contract."""
    con = duckdb.connect()
    files = [f.replace("file://", "") for f in gold_files]
    con.read_parquet(files).create_view("gold")
    bad: list[tuple[int, str]] = []
    for i, (req, env, _) in enumerate(served):
        where = f"request {i} {req['kind']} {req['metric']} {req['start']}..{req['end']}"
        data = env["data"] if env.get("ok") else None
        if data is None:
            bad.append((i, f"{where}: envelope not ok"))
            continue
        kind = req["kind"]
        agg = req["agg"] if kind == "fetch" else "sum"
        cur = con.execute(_fetch_sql(agg), {"m": req["metric"], "s": req["start"], "e": req["end"]})
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        if kind in ("fetch", "export"):
            keys = (["metric_date", "source_id", "metric", "value", "value_count", "value_sum",
                     "value_avg"] if kind == "export" else cols)
            if kind == "export" and list(data[0].keys() if data else keys) != keys:
                bad.append((i, f"{where}: export columns {list(data[0].keys())}"))
            if len(data) != len(want) or any(
                    not common.close(g[k], w[k]) for g, w in zip(data, want) for k in keys):
                bad.append((i, f"{where}: {len(data)} rows differ from the {len(want)} expected"))
        elif kind == "zscore":
            got = sorted((r["metric_date"], r["z"], r["is_outlier"]) for r in data)
            exp = _zscore(con.execute(_ZSCORE_SQL, {"m": req["metric"], "s": req["start"],
                                                   "e": req["end"]}).fetchall())
            if len(got) != len(exp) or any(
                    g[0] != e[0] or not common.close(g[1], e[1]) or g[2] != e[2]
                    for g, e in zip(got, exp)):
                bad.append((i, f"{where}: z-scores differ"))
        elif kind == "forecast":
            last = max(w["metric_date"] for w in want)
            dates = [dt.date.fromisoformat(r["date"]) for r in sorted(data, key=lambda r: r["date"])]
            ok = (len(data) == HORIZON
                  and dates == [last + dt.timedelta(days=k + 1) for k in range(HORIZON)]
                  and all(math.isfinite(r["yhat"]) and
                          r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"] for r in data))
            if not ok:
                bad.append((i, f"{where}: forecast breaks the contract"))
        else:  # reliability
            ok = (len(data) == 1 and data[0]["metric"] == req["metric"]
                  and 1 <= data[0]["folds"] <= 5 and 0 <= data[0]["score"] <= 100
                  and data[0]["mape_agg"] >= 0)
            if not ok:
                bad.append((i, f"{where}: reliability summary {data}"))
    con.close()
    return bad
