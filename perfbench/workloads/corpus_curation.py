"""corpus_curation — the training-data curation pass (batch, one full
pass per op).

Each pass reads the seeded documents and runs, materializing every
stage to parquet: line cleanup and quality filter
(``functions.text``), exact dedup, eval decontamination, SimHash
near-duplicate pairs, the connected-components cluster index
(``functions.graph``) and canonical selection (``functions.dedup``),
and sequence packing (``functions.text``). The work is shuffle- and
loop-bound: one planted near-duplicate chain makes the
connected-components loop run several rounds.
"""

from __future__ import annotations

import os
import shutil

from perfbench import common
from perfbench.gen import CorpusGen, normalize, shingles, simhash, token_count

N_DOCS = 600
#: a chain of 8 makes the connected-components loop run 3 rounds
CHAIN_LEN = 8
#: set-up stages the corpus, then runs untimed passes over it: the first
#: passes of a fresh engine are slower (JIT compilation of the planner
#: and codegen paths)
WARMUP_PASSES = 1
#: timed passes in a run, at least
MIN_PASSES = 2
MIN_QUALITY = 0.2
#: staging is cheap, so set-up stages the corpus several times and
#: reports the median
SETUP_REPS = 3


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from smartdatapipeline_spark.functions import dedup as DD
    from smartdatapipeline_spark.functions import text as TX

    spark = ctx.spark
    inputs = common.reset_dir(os.path.join(ctx.work, "inputs"))
    corpus = CorpusGen(ctx.seed, N_DOCS, CHAIN_LEN).write(inputs)

    def curation_pass(out: str, paths: dict) -> dict:
        def write(df, name, layer):
            with ctx.region(f"{layer}.{name}:write", layer, action=True):
                df.write.mode("overwrite").parquet(f"{out}/{name}")
            return spark.read.parquet(f"{out}/{name}")

        docs = spark.read.parquet(paths["docs"])
        evals = spark.read.parquet(paths["eval"])
        scored = TX.quality_features(
            TX.clean_lines(docs, min_words=3, require_terminal_punct=False),
            text_col="clean_text", keep=("text",))
        filtered = write(scored.filter(F.col("quality") >= MIN_QUALITY).select("doc_id", "text"),
                         "filtered", "functions.text")
        reps = DD.exact_dedup(filtered).select(F.col("rep_id").alias("doc_id"))
        deduped = write(filtered.join(reps, "doc_id"), "deduped", "functions.dedup")
        flags = DD.decontaminate(deduped, evals)
        clean = write(deduped.join(flags.filter(~F.col("contaminated")).select("doc_id"),
                                   "doc_id"), "decontaminated", "functions.dedup")
        pairs = DD.simhash_near_pairs(clean, max_hamming=3)
        DD.build_cluster_index(pairs, clean, f"{out}/clusters")
        labels = DD.probe_cluster_index(spark, f"{out}/clusters")
        quality = TX.quality_features(clean).select("doc_id", "quality")
        canon = DD.canonical_from_clusters(labels, quality)
        survivors = write(clean.join(canon.select(F.col("canonical_doc").alias("doc_id")),
                                     "doc_id"), "survivors", "functions.dedup")
        write(TX.pack_sequences(survivors), "packed", "functions.text")
        return {"out": out, "pairs": pairs}

    staged: dict[str, str] = {}

    def build(rep: int) -> None:
        # stage the raw corpus as a doc_id-partitioned table, as a
        # deployment would before curating it; sorted, so the files are the
        # same bytes on every run (a shuffle's row order is not)
        staged["docs"] = os.path.join(ctx.work, f"staged{rep}")
        spark.read.parquet(corpus["paths"]["docs"]).repartition(
            spark.sparkContext.defaultParallelism, "doc_id").sortWithinPartitions(
            "doc_id").write.parquet(staged["docs"])

    def warm_up() -> None:
        for k in range(WARMUP_PASSES):
            out = os.path.join(ctx.work, f"warm_out{k}")
            curation_pass(out, {"docs": staged["docs"], "eval": corpus["paths"]["eval"]})
            shutil.rmtree(out, ignore_errors=True)

    setup_s, builds = common.timed_setup(SETUP_REPS, build, warm_up)
    paths = {"docs": staged["docs"], "eval": corpus["paths"]["eval"]}

    expected = expected_outputs(corpus)
    bad_passes: list[int] = []
    mismatches: list[str] = []
    layer_obs = {"pairs": [], "kept": []}
    pass_s: list[float] = []
    traced_s: list[float] = []

    def after(i, _, res, seconds, traced):
        (traced_s if traced else pass_s).append(seconds)
        got = read_outputs(spark, res["out"])
        bad = compare(expected, got, corpus)
        if bad:
            bad_passes.append(i)
            mismatches.extend(f"pass {i}: {m}" for m in bad)
        if traced:
            layer_obs["pairs"].append(res["pairs"].count())
            layer_obs["kept"].append(len(got["survivors"]) / len(got["filtered"]))
        shutil.rmtree(res["out"], ignore_errors=True)

    common.closed_loop(ctx, lambda i: None,
                       lambda i, _: curation_pass(os.path.join(ctx.work, f"pass{i}"), paths),
                       after, min_blocks=MIN_PASSES)
    n = len(pass_s) + len(traced_s)
    layer = {}
    if layer_obs["pairs"]:
        layer = {"functions.dedup.pairs_out": sum(layer_obs["pairs"]) / len(layer_obs["pairs"]),
                 "functions.dedup.kept_ratio": sum(layer_obs["kept"]) / len(layer_obs["kept"])}
    return {
        "setup_s": setup_s,
        "e2e": {
            "op_p50_s": common.median(pass_s),
            "op_p90_s": common.quantile(pass_s, 0.9),
            "throughput_per_s": N_DOCS * len(pass_s) / sum(pass_s),
            "batch_s": common.median(pass_s),
        },
        "overhead_s": common.median(traced_s) - common.median(pass_s) if traced_s else 0.0,
        "layer": layer,
        "attempted": n,
        "failed": len(bad_passes),
        "mismatches": mismatches,
        "info": {"ops": n, "pass_s": [round(x, 4) for x in pass_s],
                 "traced_pass_s": [round(x, 4) for x in traced_s],
                 "setup_builds_s": [round(x, 4) for x in builds],
                 "docs": N_DOCS, "chain_len": CHAIN_LEN},
    }


# ------------------------------------------------------------------ oracle


def read_outputs(spark, out: str) -> dict:
    def ids(name):
        return {r[0] for r in spark.read.parquet(f"{out}/{name}").select("doc_id").collect()}

    return {
        "filtered": ids("filtered"),
        "deduped": ids("deduped"),
        "decontaminated": ids("decontaminated"),
        "survivors": ids("survivors"),
        "labels": {r[0]: r[1] for r in spark.read.parquet(f"{out}/clusters").collect()},
        "packed": [r.asDict() for r in spark.read.parquet(f"{out}/packed").collect()],
    }


def expected_outputs(corpus: dict) -> dict:
    """The pass recomputed in plain Python from the generator's texts
    and planted truth."""
    texts = corpus["texts"]
    junk = set(corpus["truth"]["junk"])
    filtered = {d for d in texts if d not in junk}
    reps: dict[str, int] = {}
    for d in sorted(filtered):
        reps.setdefault(normalize(texts[d]), d)
    deduped = set(reps.values())
    eval_sh = {s for t in corpus["eval_texts"] for s in shingles(t) if s}
    clean = set()
    for d in deduped:
        sh = {s for s in shingles(texts[d]) if s}
        frac = len(sh & eval_sh) / len(sh) if sh else 0.0
        if frac < 0.2:
            clean.add(d)
    # connected components over SimHash distance <= 3 (union-find)
    ids = sorted(clean)
    fps = {d: simhash(texts[d]) for d in ids}
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_band: dict[tuple[int, int], list[int]] = {}
    for d in ids:
        for b in range(4):
            by_band.setdefault((b, (fps[d] >> (15 * b)) & 0x7FFF), []).append(d)
    for members in by_band.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if bin(fps[a] ^ fps[b]).count("1") <= 3:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    labels = {}
    for d in ids:
        labels[d] = find(d)
    comp_min: dict[int, int] = {}
    for d, r in labels.items():
        comp_min[r] = min(comp_min.get(r, d), d)
    return {"filtered": filtered, "deduped": deduped, "decontaminated": clean,
            "labels": {d: comp_min[r] for d, r in labels.items()}}


def compare(exp: dict, got: dict, corpus: dict) -> list[str]:
    out = []
    for stage in ("filtered", "deduped", "decontaminated"):
        if got[stage] != exp[stage]:
            out.append(f"{stage}: unexpected {sorted(got[stage] - exp[stage])[:5]}, "
                       f"missing {sorted(exp[stage] - got[stage])[:5]}")
    if got["labels"] != exp["labels"]:
        diff = [d for d in exp["labels"] if got["labels"].get(d) != exp["labels"][d]]
        out.append(f"cluster labels differ for {len(diff)} docs")
    clusters: dict[int, set] = {}
    for d, c in exp["labels"].items():
        clusters.setdefault(c, set()).add(d)
    per_cluster = [len(m & got["survivors"]) for m in clusters.values()]
    if any(k != 1 for k in per_cluster) or not got["survivors"] <= exp["decontaminated"]:
        out.append("survivors are not exactly one per cluster")
    truth = corpus["truth"]
    if set(truth["contaminated"]) & got["decontaminated"]:
        out.append("a planted contaminated doc survived decontamination")
    texts = corpus["texts"]
    packed = got["packed"]
    if {r["doc_id"] for r in packed} != got["survivors"]:
        out.append("packed docs differ from survivors")
    elif sum(r["n_tokens"] for r in packed) != sum(token_count(texts[d]) for d in got["survivors"]):
        out.append("packed token total differs from the survivors' token total")
    else:
        offsets: dict[int, int] = {}
        for r in sorted(packed, key=lambda r: (r["shard"], r["doc_id"])):
            if r["offset_start"] != offsets.get(r["shard"], 0):
                out.append(f"pack offset of doc {r['doc_id']} is {r['offset_start']}")
                break
            offsets[r["shard"]] = r["offset_start"] + r["n_tokens"]
    return out
