"""stream_curation — the platform's two non-API paths in one process:
the ``stream_events`` open loop, then the ``corpus_curation`` passes.

Each part keeps its own inputs, set-up, warm-up and oracle and gets its
share of ``--seconds``; the stream part restores the session's shuffle
partition count when its queries stop, so the curation passes run with
the engine's own setting. One process pays the JVM start and the
engine's cold start once for both. The end-to-end figures are the
stream's per-file lag and drain capacity, and the median curation pass
(``batch_s``); ``setup_s`` is the sum of both set-ups.

In a traced run the stream part has a tracer of its own: its
``streaming.*`` figures come from the query listener, while the run's
tracer, which gives the ``spark.*``, ``functions.*`` and overhead
figures and the span file, holds the curation passes only.
"""

from __future__ import annotations

from perfbench import common
from perfbench.trace import Tracer
from perfbench.workloads import corpus_curation, stream_events


#: share of ``--seconds`` for each part. At the benchmark's 12 s the
#: stream part drops its minimum of four files and the curation part
#: runs its minimum of two timed passes
SHARE = 0.5


def run(ctx) -> dict:
    seconds = ctx.clock.seconds * SHARE
    res = {"stream_events": common.run_part(ctx, "stream_events", stream_events, seconds,
                                            tracer=Tracer(ctx.spark)),
           "corpus_curation": common.run_part(ctx, "corpus_curation", corpus_curation,
                                              seconds)}
    st, cc = res["stream_events"], res["corpus_curation"]
    return {
        "setup_s": st["setup_s"] + cc["setup_s"],
        "e2e": {
            "op_p50_s": st["e2e"]["op_p50_s"],
            "op_p90_s": st["e2e"]["op_p90_s"],
            "throughput_per_s": st["e2e"]["throughput_per_s"],
            "batch_s": cc["e2e"]["batch_s"],
        },
        "overhead_s": cc["overhead_s"],
        # Spark work per op is the curation pass's
        "layer": {**{k: v for k, v in st["layer"].items() if not k.startswith("spark.")},
                  **cc["layer"]},
        **common.merge_outcomes(res),
    }
