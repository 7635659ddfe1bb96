"""The command itself: every metric BENCHMARK.json names is printed with
its unit, and a directory without the engine makes it fail."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# run.py, shrunk so a run takes seconds: the same code path, smaller inputs
SMALL = """
import sys
sys.path.insert(0, %r)
import jqbench.harness as H
H.ETL_DOCS, H.ADHOC_DOCS, H.COLD_DOCS, H.LAYER_DOCS, H.SETUP_ROUNDS = 2000, 300, 64, 100, 1
from jqbench import run
sys.exit(run.main(sys.argv[1:]))
""" % ROOT


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(trace):
    s = spec()
    workload = s["workloads"][0]["name"]
    p = subprocess.run([sys.executable, "-c", SMALL, "--workload", workload, "--seed", "3",
                        "--seconds", "0.1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = s["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in lines[:-1]), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "jqbench"), tmp_path / "jqbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "jqbench/run.py", "--workload", "etl_python",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
