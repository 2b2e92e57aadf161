"""The benchmark's own self-test, on tiny seeded inputs.

    python3 perfbench/selftest.py

Asserts, for every workload listed in BENCHMARK.json and for
extract_scan (runnable by hand, not listed there):

- a ``--trace 0`` run prints every end-to-end metric with its unit, in the
  table and in the final JSON line, and a ``--trace 1`` run does the same
  for every per-layer metric;
- on the workloads that extract spans, a run with one span dropped from
  the checked output (``--corrupt``) counts it: ``failed`` >= 1 and
  ``correct`` is false; every other run is correct;
- run from a directory holding only BENCHMARK.json and the benchmark's
  files, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = "120"
CORRUPTIBLE = ("extract_scan", "ingest_resume")


def _run(cwd: str, workload: str, trace: int, corrupt: bool = False) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--docs", TINY_DOCS]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, check=False)
    return proc.returncode, proc.stdout.strip().splitlines()


def _assert_metrics(lines: list[str], metrics: list[dict], what: str) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    printed = result["metrics"]
    want = {m["name"]: m["unit"] for m in metrics}
    assert set(printed) == set(want), f"{what}: {sorted(set(printed) ^ set(want))}"
    table = "\n".join(lines[:-1])
    for name, unit in want.items():
        assert printed[name]["unit"] == unit, (name, printed[name])
        assert isinstance(printed[name]["value"], (int, float)), (name, printed[name])
        assert f" {name} " in table and f" {unit}" in table, f"{what}: {name} not in the table"
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    table_only = [{"name": "failed_frac", "unit": "fraction"}, {"name": "docs_per_s", "unit": "docs/s"}]
    for name in [w["name"] for w in bench["workloads"]] + ["extract_scan"]:
        corrupt = name in CORRUPTIBLE
        rc, lines = _run(ROOT, name, 0, corrupt=corrupt)
        assert rc == 0, f"{name}: exit {rc}"
        res = _assert_metrics(lines, bench["end_to_end"], f"{name} trace 0")
        for m in table_only:
            assert any(f" {m['name']} " in ln and m["unit"] in ln for ln in lines), m
        if corrupt:
            assert res["failed"] >= 1 and not res["correct"], f"{name}: corruption not counted {res}"
        else:
            assert res["failed"] == 0 and res["correct"], f"{name}: {res}"
        rc, lines = _run(ROOT, name, 1)
        assert rc == 0, f"{name} trace: exit {rc}"
        res = _assert_metrics(lines, bench["per_layer"], f"{name} trace 1")
        assert res["failed"] == 0 and res["correct"], f"{name} trace: {res}"
        print(f"ok {name}: metrics and units printed; corruption counted: {corrupt}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(bare, bench["workloads"][0]["name"], 0)
        assert rc != 0, "the benchmark must fail without the program"
        assert not any(ln.startswith("{") for ln in lines), lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok bare directory: exits", rc, "without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
