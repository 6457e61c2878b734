"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke and repeat tests start one Spark child process per run on the
smallest inputs (`--tiny`): about eight minutes in all on 4 vCPUs.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_gives_identical_inputs():
    for seed in (0, 7):
        assert corpus.corpus(seed, 40) == corpus.corpus(seed, 40)
        assert corpus.requests(seed, 50) == corpus.requests(seed, 50)
        assert corpus.star_tables(seed, 0.001) == corpus.star_tables(seed, 0.001)
    assert corpus.corpus(0, 40) != corpus.corpus(1, 40)
    assert corpus.requests(0, 50) != corpus.requests(1, 50)


def test_generated_docs_have_the_declared_shape():
    docs = corpus.corpus(3, 200)
    with_code = sum("```python" in text for _, text, _ in docs)
    assert 0.25 < with_code / len(docs) < 0.55
    for _, text, fmt in docs:
        assert fmt == "md" and text.startswith("# ")
        assert 2 <= text.count("\n\n") - text.count("```python") <= 5


def test_requests_only_carry_intended_hints():
    from ocr_vector_db_spark.plans import query_optimizer

    for i, q in enumerate(corpus.requests(5, 60)):
        opt = query_optimizer.optimize(q)
        want = ("code", "python") if i % 6 == 2 else ("text", None) if i % 6 == 5 else (None, None)
        assert (opt.view_hint, opt.language_hint) == want, q


def test_metric_names_and_units_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return last, json.load(fh)


def test_declared_workloads_exist():
    from workloads import WORKLOADS

    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["index_build", "query_serve", "query_suite"])
def test_tiny_smoke_run(workload, trace):
    spec = _spec()
    last, rec = _run(workload, 11, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0, rec["messages"]
    assert last["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    for name in rec["workload_metrics"]:
        assert NAME.fullmatch(name), name
    if trace:
        for name in rec["layers"]:
            assert NAME.fullmatch(name), name


@pytest.mark.parametrize("workload,key,rel", [
    # a store written twice from the same inputs differed by about 2 bytes
    # in 300 kB between processes (not within one); the ratio repeats to
    # well inside 1e-4
    ("index_build", "store_bytes_per_input_byte", 1e-4),
    ("query_serve", "recall_at_10", 0.0),
])
def test_seeded_figures_repeat(workload, key, rel):
    """Same seed, same inputs: every traced job count repeats exactly, and
    the seeded quality figure repeats (exactly, or within `rel`)."""
    _, first = _run(workload, 23, 1)
    _, second = _run(workload, 23, 1)
    jobs = {k: v for k, v in first["layers"].items() if k.endswith(".jobs")}
    assert jobs and jobs == {k: second["layers"][k] for k in jobs}
    a, b = first["workload_metrics"][key][0], second["workload_metrics"][key][0]
    assert abs(a - b) <= rel * abs(a), (a, b)
