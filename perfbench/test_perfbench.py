"""Quick test of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The input and oracle tests need only NumPy and DuckDB; the last test
runs the benchmark end to end (one Spark session per run, about a
minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracles  # noqa: E402
from perfbench.tracing import per_layer_names, unit_of  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _files(workload: str, seed: int, out_dir: str) -> dict[str, bytes]:
    paths = inputs.write_inputs(workload, inputs.generate(workload, seed), out_dir)
    out = {}
    for name, p in paths.items():
        with open(p, "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_inputs(workload, tmp_path):
    a, b = inputs.generate(workload, 7), inputs.generate(workload, 7)
    for k, v in vars(a).items():
        np.testing.assert_array_equal(v, vars(b)[k])
    assert _files(workload, 7, tmp_path / "a") == _files(workload, 7, tmp_path / "b")


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_other_seed_other_inputs(workload, tmp_path):
    assert _files(workload, 7, tmp_path / "a") != _files(workload, 8, tmp_path / "b")


def test_stream_batches_are_consistent():
    d = inputs.stream_mutate(3)
    n = inputs.STREAM_VERTICES
    base = set((d.base_src * n + d.base_dst).tolist())
    adds = (d.src * n + d.dst)[d.is_add]
    dels = (d.src * n + d.dst)[~d.is_add]
    assert len(set(adds.tolist())) == len(adds) and not base & set(adds.tolist())
    assert len(set(dels.tolist())) == len(dels) and set(dels.tolist()) <= base


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_expected_outputs(workload, tmp_path):
    def expected(seed, sub):
        paths = inputs.write_inputs(
            workload, inputs.generate(workload, seed), tmp_path / sub
        )
        return oracles.expected(workload, {k: str(p) for k, p in paths.items()})

    def rows(df):  # DuckDB returns rows in any order
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    a, b, c = expected(7, "a"), expected(7, "b"), expected(8, "c")
    assert a.keys() == b.keys() == c.keys()
    for key in a:
        pd.testing.assert_frame_equal(rows(a[key]), rows(b[key]))
    assert any(not rows(a[k]).equals(rows(c[k])) for k in a)


def test_compare_detects_a_wrong_value():
    want = pd.DataFrame({"id": [1, 2, 3], "rank": [0.5, 0.25, 0.25]})
    assert oracles.compare("pagerank", want.iloc[::-1], want) is None
    bad = want.assign(rank=[0.5, 0.25, 0.26])
    assert "rank" in oracles.compare("pagerank", bad, want)
    assert "rows" in oracles.compare("pagerank", want.head(2), want)


def test_wcc_reference():
    got = oracles.wcc_reference(np.array([5, 1, 9]), np.array([1, 3, 8]))
    assert dict(zip(got["id"], got["component"])) == {1: 1, 3: 1, 5: 1, 8: 8, 9: 8}


def test_spec_lists_every_metric():
    assert [m["name"] for m in SPEC["per_layer"]] == per_layer_names()
    for m in SPEC["per_layer"]:
        assert m["unit"] == unit_of(m["name"])
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric_with_unit(trace, section):
    res = _run("stream-mutate", 5, trace)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_run_refuses_without_the_program(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er-volume", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""
