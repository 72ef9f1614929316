"""The benchmark's own tests: seeded inputs, oracles, structural
counters and the result line.

    python -m pytest perfbench/tests -q

The traced-run tests start Spark through ``perfbench/run.py`` and take a
few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

STRUCTURAL = ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.shuffle_write_bytes", "spark.shuffle_read_bytes")


def _inputs(seed: int, out: str) -> str:
    """Every generator's files for one seed, written under ``out``."""
    ing = gen.IngestGen(seed, rows_per_batch=2_000, history_days=3, history_rows_per_day=200)
    os.makedirs(os.path.join(out, "ingest"))
    ing.history(os.path.join(out, "ingest", "history.csv"))
    for b in range(3):
        ing.batch(b, os.path.join(out, "ingest"))
    api = gen.ApiGen(seed, days=200, events_per_day=2)
    os.makedirs(os.path.join(out, "api"))
    api.raw(os.path.join(out, "api"), chunks=2)
    with open(os.path.join(out, "api", "requests.json"), "w") as f:
        json.dump(api.requests(30), f)
    os.makedirs(os.path.join(out, "corpus"))
    gen.CorpusGen(seed, n_docs=150, chain_len=5).write(os.path.join(out, "corpus"))
    st = gen.StreamGen(seed, events_per_file=300, users=50, name="live")
    os.makedirs(os.path.join(out, "stream"))
    for k in range(3):
        with open(os.path.join(out, "stream", f"{k}.parquet"), "wb") as f:
            f.write(st.next_file())
    return gen.sha256_tree(out)


def test_generators_are_deterministic_per_seed(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_ingest_batches_carry_planted_truth(tmp_path):
    g = gen.IngestGen(5, rows_per_batch=1_000, history_days=2, history_rows_per_day=100)
    g.history(str(tmp_path / "h.csv"))
    csv_meta, json_meta = g.batch(0, str(tmp_path)), g.batch(1, str(tmp_path))
    assert (csv_meta["format"], json_meta["format"]) == ("csv", "json")
    for m in (csv_meta, json_meta):
        assert m["skipped_rows"] == 10 and m["duplicate_rows"] == 40
        assert m["ingested_rows"] == 990 and m["inserted_rows"] == 950
        with open(m["path"]) as f:
            lines = f.read().splitlines()
        assert len(lines) == 1_000 + (m["format"] == "csv")
    assert len(g.inserted) == 200 + 2 * 950
    assert len({(s, k) for s, k, _ in g.inserted}) == len(g.inserted)


def test_corpus_chain_is_a_chain():
    c = gen.CorpusGen(3, n_docs=100, chain_len=6)
    texts = c._chain()
    fps = [gen.simhash(t) for t in texts]
    for i in range(1, len(fps)):
        assert 1 <= bin(fps[i] ^ fps[i - 1]).count("1") <= 3
        assert all(bin(fps[i] ^ f).count("1") > 3 for f in fps[:i - 1])


def test_oracles_flag_corrupted_outputs(tmp_path):
    from perfbench.workloads import corpus_curation as CC
    from perfbench.workloads import stream_events as SE

    corpus = gen.CorpusGen(2, n_docs=150, chain_len=5).write(str(tmp_path))
    exp = CC.expected_outputs(corpus)
    survivors = {min(d for d in exp["labels"] if exp["labels"][d] == c)
                 for c in set(exp["labels"].values())}
    packed, offsets = [], {}
    for d in sorted(survivors):
        n = gen.token_count(corpus["texts"][d])
        shard = d % 8
        packed.append({"doc_id": d, "shard": shard, "n_tokens": n,
                       "offset_start": offsets.get(shard, 0)})
        offsets[shard] = offsets.get(shard, 0) + n
    good = {**{k: set(v) for k, v in exp.items() if k != "labels"},
            "labels": dict(exp["labels"]), "survivors": survivors, "packed": packed}
    assert CC.compare(exp, good, corpus) == []
    bad = dict(good, survivors=survivors | {max(exp["decontaminated"] - survivors)})
    assert CC.compare(exp, bad, corpus)
    bad = dict(good, packed=[dict(packed[0], n_tokens=packed[0]["n_tokens"] + 1)] + packed[1:])
    assert CC.compare(exp, bad, corpus)

    st = gen.StreamGen(4, events_per_file=200, users=20, name="live")
    for _ in range(3):
        st.next_file()
    want = SE.expected(st.events)
    assert SE.compare(want, st.events) == []
    rows = list(want["windows"])
    rows[0] = rows[0][:3] + (rows[0][3] + 1,)
    assert SE.compare(dict(want, windows=rows), st.events)


def _run(workload: str, seed: int, trace: int, ops: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--ops", str(ops)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_listed_workloads_are_runnable(spec):
    import importlib

    from perfbench import run

    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS
        assert callable(importlib.import_module(f"perfbench.workloads.{w['name']}").run)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_combined_workloads_add_up_their_parts():
    from perfbench.common import merge_outcomes

    part = {"attempted": 3, "failed": 1, "mismatches": ["x"], "setup_s": 1.0,
            "e2e": {}, "overhead_s": 0.0, "info": {"ops": 3}}
    out = merge_outcomes({"a": part, "b": dict(part, failed=0, mismatches=[])})
    assert (out["attempted"], out["failed"], out["mismatches"]) == (6, 1, ["a: x"])
    assert out["info"]["b"]["ops"] == 3


def test_clock_ends_runs_at_whole_blocks():
    from perfbench.common import Clock

    assert list(Clock(0.0, None).loop()) == [0]
    assert list(Clock(0.0, None).loop(block=3)) == [0, 1, 2]
    assert list(Clock(0.0, None).loop(block=3, min_blocks=2)) == list(range(6))
    assert list(Clock(0.0, 4).loop(block=3)) == list(range(4))


#: ops per run: two blocks, so a traced run holds one traced block
TRACED_OPS = {"api_reads": 30, "ingest_refresh": 4, "corpus_curation": 2}


@pytest.mark.parametrize("workload", sorted(TRACED_OPS))
def test_structural_counters_repeat_and_metrics_are_named(workload, spec):
    ops = TRACED_OPS[workload]
    first = _run(workload, seed=11, trace=1, ops=ops)
    second = _run(workload, seed=11, trace=1, ops=ops)
    assert first["correct"] and second["correct"]
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in first["metrics"].items()} == want
    for name in STRUCTURAL:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["spark.jobs"]["value"] > 0


def test_untraced_run_prints_every_end_to_end_metric(spec):
    res = _run("api_reads", seed=12, trace=0, ops=3)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["attempted"] == 3 and res["failed"] == 0


def test_refuses_to_run_without_the_library(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "api_reads", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
