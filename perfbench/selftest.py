"""Self-test of the benchmark on tiny seeded inputs.

    python3 perfbench/selftest.py

- BENCHMARK.json names the same workloads and metrics, with the same
  units, directions and bounds, as metrics.py.
- For every workload, a traced run prints every per-layer metric with its
  unit and passes every oracle check; a --corrupt run (one perturbed score,
  one wrong label, one changed text byte, a triangle count off by one)
  prints every end-to-end metric with its unit and counts exactly the
  corrupted checks as failed operations.
- In a directory holding only BENCHMARK.json and this benchmark (no
  engine) the command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

CORRUPTED = {
    "rmat_structure": {"components.labels", "labelprop.labels", "triangles.count"},
    "crawl_ingest": {"pages.text", "pagerank.scores", "resume.scores"},
}


def run(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None, dict | None]:
    """(exit code, result line, report) of one tiny run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    report = None
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] report: "):
            report = json.loads(line[len("[perfbench] report: "):])
    if p.returncode and cwd == ROOT:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result, report


def check_units(result: dict, table: dict) -> None:
    metrics = result["metrics"]
    assert set(metrics) == set(table), set(metrics) ^ set(table)
    for name, m in metrics.items():
        assert m["unit"] == table[name][0], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} \
        == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == {k: v[:2] for k, v in PER_LAYER.items()}


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        code, result, _ = run(bare, "rmat_structure")
        assert code != 0 and result is None, (code, result)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    check_benchmark_json()
    check_bare_directory()
    for workload in WORKLOADS:
        code, result, report = run(ROOT, workload, "--trace", "1")
        assert code == 0 and result, (workload, code)
        assert result["correct"] and result["failed"] == 0, (workload, report)
        check_units(result, PER_LAYER)

        code, result, report = run(ROOT, workload, "--corrupt")
        assert code == 0 and result, (workload, code)
        check_units(result, END_TO_END)
        failed = report["checks_failed"]
        assert not result["correct"] and result["failed"] == len(failed), result
        assert set(failed) == CORRUPTED[workload], (workload, failed)
        print(f"ok {workload}", flush=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
