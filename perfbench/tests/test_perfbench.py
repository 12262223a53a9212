"""Tests of the benchmark itself (not part of the program's suite).

    python3 -m pytest perfbench/tests -q

The smoke tests start real Spark sessions in subprocesses and take a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import reference as ref  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_digest_is_order_insensitive_and_sees_a_dropped_row():
    rows = [("r", "CONTAINS", "r/a.py"), ("r/a.py", "IMPORTS", "alpha"),
            ("r/a.py", "IMPORTS", "alpha")]
    assert ref.digest(rows) == ref.digest(list(reversed(rows)))
    assert ref.digest(rows[:-1]) != ref.digest(rows)


def test_pagerank_reference_sums_to_one_with_dangling_mass():
    nodes, pr = ref.pagerank({("a", "b"), ("b", "c"), ("a", "c")})
    assert nodes == ["a", "b", "c"]
    assert abs(pr.sum() - 1.0) < 1e-12
    assert pr[2] > pr[1] > pr[0]


def test_canonical_map_links_module_prefixes_only():
    files = [{"mentions": [(0, 0, 0, "alpha", "module"), (1, 0, 0, "alpha.core", "module"),
                           (2, 0, 0, "load_1", "func"), (3, 0, 0, "load_2", "func")]}]
    canon, stats = ref.canonical_map(files)
    assert canon == {"alpha": "alpha", "alpha.core": "alpha",
                     "load_1": "load_1", "load_2": "load_2"}
    assert stats == {"entities": 4, "pairs_scored": 2, "edges_kept": 1, "blocks_refined": 0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from ner_funtool_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2, extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_dropped_triple_is_a_failed_operation(spark, tmp_path):
    from ner_funtool_spark.plans.kg import build_triples

    stage_dir = str(tmp_path / "stage")
    expected = workloads.stage(stage_dir, 40, 5, workloads.scan_expected)
    src = spark.read.parquet(f"{stage_dir}/source")

    def dropping_op(spark, src, expected, ctx):
        triples = build_triples(src, mode="rules")
        return workloads.check_triples(triples.exceptAll(triples.limit(1)), expected, ctx)

    wl = workloads.Workload("drop_one", 40, workloads.scan_expected, dropping_op, "", 0, 1)
    runner = run.Runner(spark, wl, src, expected, tmp_path)
    runner.op(workloads.NoTrace)
    assert (runner.attempted, runner.failed) == (1, 1)
    runner.wl = workloads.WORKLOADS["code_kg_scan"]
    runner.op(workloads.NoTrace)
    assert (runner.attempted, runner.failed) == (2, 1)


def _run(cwd, *args, env=None):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600, env=env)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_run_completes_and_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--files", "60")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    # without the spark fixture's PYTHONPATH, which points at the program
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _run(tmp_path, "--workload", "code_kg_scan", "--seed", "1",
             "--seconds", "1", "--trace", "0", env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
