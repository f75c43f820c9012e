"""Tests of the benchmark itself.  Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

The smoke tests start Spark, at a tiny input scale, one run per
workload and mode (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(args, cwd=ROOT, timeout=300):
    # make_session puts the package root on PYTHONPATH; a run must find
    # the program only through its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, env=env, capture_output=True, text=True,
                          timeout=timeout)


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_span_self_times_add_up_to_op_wall():
    tr = layers.Tracer(True)
    tr.op = "op-0"
    with tr.span("op.x"):
        with tr.span("a"):
            with tr.span("a.inner"):
                pass
        with tr.span("b"):
            pass
    (bd,) = tr.op_breakdown(["op-0"])
    assert set(bd["self_s"]) == {"other_s", "a", "a.inner", "b"}
    assert sum(bd["self_s"].values()) == pytest.approx(bd["wall_s"], abs=1e-9)
    assert min(bd["self_s"].values()) >= 0


def test_disabled_tracer_records_nothing():
    tr = layers.Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_inputs_are_a_pure_function_of_the_seed(tmp_path):
    import numpy as np

    import workloads

    run.prepare_work()
    spark = run.start_session(2, False)
    try:
        def inputs(seed, sub):
            work = str(tmp_path / sub)
            os.makedirs(work)
            d = workloads.Dedup(seed, 0.02, work)
            d.write_table(spark)
            ids, text, docs, planted = workloads.render_corpus(
                d.table, seed, d.scale)
            p = workloads.Probe(seed, 0.001, work)
            p.table = d.table
            p.prepare(spark, layers.Tracer(False))
            probes = spark.read.parquet(p.path).toPandas()
            return d.table.counts, text.to_pylist(), planted, probes

        a, b, c = inputs(7, "a"), inputs(7, "b"), inputs(8, "c")
    finally:
        run.stop_all(spark)
        shutil.rmtree(run.WORK)
    assert np.array_equal(a[0], b[0]) and a[1] == b[1]
    assert np.array_equal(a[2], b[2]) and a[3].equals(b[3])
    assert not np.array_equal(a[0], c[0])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_named_metric(workload, trace):
    out = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.05"])
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".bench_work"))


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "build", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=tmp_path, timeout=120)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
