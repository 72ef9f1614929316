"""api_service — the reference's API as one client uses it: the
``ingest_refresh`` loop, then the ``api_reads`` loop, in one process.

Each part keeps its own inputs, tables, set-up, warm-up, oracle and
whole blocks of ops (two ingest batches, the second with maintenance;
fifteen reads), and gets its share of ``--seconds``. One process pays the
JVM start and the engine's cold start once for both paths, and the
reads run in an engine the ingest part has already warmed. The
end-to-end figures are the read latencies of ``api_reads`` and the
ingest throughput and batch latency of ``ingest_refresh``; ``setup_s``
is the sum of both set-ups.
"""

from __future__ import annotations

from perfbench import common
from perfbench.workloads import api_reads, ingest_refresh

#: part, module, share of ``--seconds``. At the benchmark's 12 s the
#: ingest share ends inside the first ingest block and the read share
#: inside the reads' minimum of two blocks, so every run times one
#: ingest block and two read blocks
PARTS = (("ingest_refresh", ingest_refresh, 0.5), ("api_reads", api_reads, 0.5))


def run(ctx) -> dict:
    res = {name: common.run_part(ctx, name, mod, ctx.clock.seconds * share)
           for name, mod, share in PARTS}
    ing, api = res["ingest_refresh"], res["api_reads"]
    return {
        "setup_s": ing["setup_s"] + api["setup_s"],
        "e2e": {
            "op_p50_s": api["e2e"]["op_p50_s"],
            "op_p90_s": api["e2e"]["op_p90_s"],
            "throughput_per_s": ing["e2e"]["throughput_per_s"],
            "batch_s": ing["e2e"]["batch_s"],
        },
        "overhead_s": api["overhead_s"],
        # the write side's table sizes win where both parts report one
        "layer": {**api["layer"], **ing["layer"]},
        **common.merge_outcomes(res),
    }
