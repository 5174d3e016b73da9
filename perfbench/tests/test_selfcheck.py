"""Self-check of the benchmark at sf0.001 with a tiny CSV input.

Runs ``perfbench/run.py`` as the benchmark driver would (one process per
run, from the repository root) and checks that

* every metric named in BENCHMARK.json prints with its unit, in both modes;
* a perturbed expected fingerprint makes the run count a failed query;
* two seeds give different ETL inputs and query orders, same metric names.

Takes a few minutes (one Spark JVM per run)::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT / "perfbench"))

from workloads import generate_etl_csv  # noqa: E402


def run(workload: str, seed: int, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "sf0.001", "--etl-rows", "2000", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    diag = next(json.loads(line[len("# diagnostics "):]) for line in lines
                if line.startswith("# diagnostics "))
    return {"result": json.loads(lines[-1]), "diag": diag, "stdout": proc.stdout}


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    bad = tmp_path_factory.mktemp("expected") / "expected.json"
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    fp = expected["sf0.001"]["q6_forecast_revenue"]
    fp["sha256"] = fp["sha256"][::-1]
    bad.write_text(json.dumps(expected))
    return {
        ("headline22", 1, 0): run("headline22", 1, 0, "--expected", str(bad)),
        ("headline22", 2, 1): run("headline22", 2, 1),
        ("iterative7", 1, 0): run("iterative7", 1, 0),
        ("iterative7", 1, 1): run("iterative7", 1, 1),
        ("sql_csv_etl", 1, 0): run("sql_csv_etl", 1, 0),
        ("sql_csv_etl", 2, 0): run("sql_csv_etl", 2, 0),
        ("sql_csv_etl", 1, 1): run("sql_csv_etl", 1, 1),
    }


def test_every_metric_prints_with_its_unit(runs):
    for (workload, _, trace), r in runs.items():
        spec = SPEC["per_layer" if trace else "end_to_end"]
        metrics = r["result"]["metrics"]
        assert set(metrics) == {m["name"] for m in spec}, workload
        for m in spec:
            assert metrics[m["name"]]["unit"] == m["unit"]
            assert isinstance(metrics[m["name"]]["value"], (int, float))
        assert r["result"]["attempted"] >= 1
        if not (workload == "headline22" and trace == 0):
            assert r["result"]["correct"] and r["result"]["failed"] == 0, r["stdout"][-3000:]
            assert r["diag"]["failed_frac"] == 0


def test_perturbed_fingerprint_fails_the_query(runs):
    r = runs[("headline22", 1, 0)]
    assert r["result"]["correct"] is False
    assert r["result"]["failed"] == 1
    assert r["diag"]["failed_frac"] > 0
    assert "# FAILED q6_forecast_revenue" in r["stdout"]


def test_seeds_change_inputs_not_metric_names(runs, tmp_path):
    a, b = runs[("sql_csv_etl", 1, 0)], runs[("sql_csv_etl", 2, 0)]
    assert a["diag"]["csv_sha256"] != b["diag"]["csv_sha256"]
    assert set(a["result"]["metrics"]) == set(b["result"]["metrics"])
    h1, h2 = runs[("headline22", 1, 0)], runs[("headline22", 2, 1)]
    assert h1["diag"]["first_pass_order"] != h2["diag"]["first_pass_order"]
    assert sorted(h1["diag"]["first_pass_order"]) == sorted(h2["diag"]["first_pass_order"])
    # the same seed regenerates the same bytes
    generate_etl_csv(tmp_path / "a", 7, 500)
    generate_etl_csv(tmp_path / "b", 7, 500)
    for f in (tmp_path / "a").iterdir():
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()
