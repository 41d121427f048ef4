"""Tiny-size smoke tests of the benchmark.

    python -m pytest perfbench/tests -q

Each Spark test runs ``perfbench/run.py`` as its own process (its own
JVM) on a tiny input and a zero-second window, and checks the result
record: every metric of the run's kind is present with its unit, the
outputs checked out, and nothing failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import run  # noqa: E402

TINY = "0.02"


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def assert_metrics(result: dict, expected: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= {"extract", "annotate", "curate"}


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def digest(seed, name):
        return inputs.write_parquet(
            inputs.pages_rows(seed, 300), inputs.PAGES_SCHEMA, str(tmp_path / name)
        )

    assert digest(7, "a") == digest(7, "b")
    assert digest(7, "a") != digest(8, "c")
    docs_a, planted_a = inputs.docs_rows(7, 200)
    docs_b, planted_b = inputs.docs_rows(7, 200)
    assert docs_a == docs_b and planted_a == planted_b
    rows = inputs.pages_rows(7, 300)
    legacy = [r for i, r in enumerate(rows) if i % 64 == 1]
    assert legacy and all(r[2] is not None for r in legacy)
    with pytest.raises(UnicodeDecodeError):
        legacy[0][2].decode("utf-8")


@pytest.mark.parametrize("workload", ["extract", "annotate", "curate"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    detail, result = result_of(
        bench("--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "0", "--scale", TINY)
    )
    assert_metrics(result, run.END_TO_END)
    assert detail["error_rate"] == {"value": 0.0, "unit": "fraction"}
    assert detail["pass_s_tail"]["unit"] == "s"
    assert detail["pass_cpu_s"]["unit"] == "s"


def test_traced_run_reports_every_per_layer_metric_and_writes_spans():
    detail, result = result_of(
        bench("--workload", "extract", "--seed", "3", "--seconds", "0", "--trace", "1", "--scale", TINY)
    )
    assert_metrics(result, run.PER_LAYER)
    with open(os.path.join(ROOT, detail["trace_file"])) as fh:
        spans = json.load(fh)
    names = {s["name"] for s in spans}
    assert {"session.start", "lineage.run_with_lineage", "align.srt_variants",
            "graph.dedup_clusters"} <= names
    assert all({"name", "start", "end", "parent", "run_id"} <= set(s) for s in spans)


def test_exits_nonzero_without_the_package(tmp_path):
    lone = tmp_path / "lone"
    (lone / "perfbench").mkdir(parents=True)
    for name in ("run.py", "inputs.py", "probes.py", "reference.py", "workloads.py"):
        with open(os.path.join(BENCH, name)) as src:
            (lone / "perfbench" / name).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=lone, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
