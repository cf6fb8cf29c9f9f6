"""Self-tests of the benchmark: statistics, span arithmetic, tracer
patching, output checks and a tiny smoke pass of every workload.

Run from the repository root: ``python3 -m pytest -q perfbench``.
The smoke passes start Spark and take about two minutes together.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import datagen  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import percentile, self_times, tail_ok  # noqa: E402
from vdb import topk_ok  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # order of input does not matter
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert tail_ok(100, 90)
    assert not tail_ok(99, 90)
    assert not tail_ok(32, 90)


def _span(start, end, parent, layer="x", op=0):
    return {"name": layer, "layer": layer, "start": start, "end": end,
            "parent": parent, "op": op}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, 10, None),  # root
        _span(1, 4, 0),  # child A
        _span(5, 9, 0),  # child B
        _span(6, 7, 2),  # grandchild under B
    ]
    assert self_times(spans) == [3, 3, 3, 1]
    assert sum(self_times(spans)) == 10  # self times partition the root


def test_layer_totals_inclusive_counts_outermost_span_of_a_layer():
    tr = Tracer()
    tr.spans = [
        _span(0, 10, None, "engine"),
        _span(1, 5, 0, "spark"),
        _span(2, 3, 1, "spark"),  # nested in a spark span: not re-counted
        _span(6, 8, 0, "catalog"),
    ]
    tot = tr.layer_totals()[0]
    assert tot["spark"]["incl"] == 4 and tot["spark"]["calls"] == 2
    assert tot["spark"]["self"] == 4  # 3 + 1
    assert tot["engine"]["self"] == 4  # 10 - 4 - 2
    assert tot["catalog"]["incl"] == 2


def test_patch_reaches_every_binding_and_undoes():
    import aiotcvectordb_spark.engine as engine
    import aiotcvectordb_spark.functions.filters as filters

    orig = filters.translate
    tr = Tracer()
    n = tr.patch_function("aiotcvectordb_spark.functions.filters", "translate",
                          "filters.translate", "filters")
    try:
        assert n >= 2  # the defining module and engine's translate_filter alias
        assert engine.translate_filter is filters.translate is not orig
        with tr.op(0, "engine.count", "engine"):
            assert engine.translate_filter('a = "x"') == orig('a = "x"')
        assert [s["layer"] for s in tr.spans] == ["engine", "filters"]
        assert tr.spans[1]["parent"] == 0
    finally:
        tr.unpatch()
    assert engine.translate_filter is orig and filters.translate is orig


def test_topk_check_accepts_ties_and_rejects_misses():
    ref = {"a": 0.9, "b": 0.8, "c": 0.8, "d": 0.1}
    assert topk_ok([("a", 0.9), ("b", 0.8)], ref, 2)
    assert topk_ok([("a", 0.9), ("c", 0.8)], ref, 2)  # tie at the boundary
    assert not topk_ok([("a", 0.9), ("d", 0.1)], ref, 2)  # missed a better id
    assert not topk_ok([("a", 0.9)], ref, 2)  # too short
    assert not topk_ok([("a", 0.9), ("b", 0.7)], ref, 2)  # wrong score


def test_inputs_are_a_function_of_the_seed(tmp_path):
    sizes = datagen.TableSizes(documents=50, embeddings=50, orders=100)
    datagen.write_tables(3, str(tmp_path / "a"), sizes)
    datagen.write_tables(3, str(tmp_path / "b"), sizes)
    datagen.write_tables(4, str(tmp_path / "c"), sizes)
    for t in ("documents", "embeddings", "orders"):
        a, b, c = (open(tmp_path / d / f"{t}.parquet", "rb").read() for d in "abc")
        assert a == b and a != c
    c1 = datagen.make_collection(np.random.default_rng(5), 20, 8)
    c2 = datagen.make_collection(np.random.default_rng(5), 20, 8)
    assert c1.ids == c2.ids and np.array_equal(c1.vectors, c2.vectors)


def test_benchmark_json_matches_the_runner():
    import layers
    import run

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.METRICS


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [
    ("vdb_read", 0), ("vdb_rw", 1), ("batch_pipeline", 0), ("stream_ingest", 1),
])
def test_smoke_pass(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--scale", "smoke"], REPO)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(out["metrics"]) == want
    import procs

    assert procs.tagged_pids() == [], "the run left processes running"


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "vdb_read", "--seed", "1", "--seconds", "1"], tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()
