"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: those listed in ``BENCHMARK.json``) it checks
that

* an untraced run prints every end-to-end metric with its unit and fails
  no operation;
* a traced run prints every per-layer metric with its unit, that its spans
  nest, and that it states the unattributed-job share and the tracing
  overhead;
* a run with one output deliberately falsified reports a non-zero error
  rate;

and that the benchmark exits non-zero, printing no result, in a directory
that holds only ``BENCHMARK.json`` and the benchmark.  About 7 minutes for
both workloads on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, *extra: str, cwd: Path = ROOT) -> tuple[int, dict | None, dict | None]:
    """Returns the exit code, the detail line and the result line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return proc.returncode, None, None
    detail = next(json.loads(x) for x in lines if x.startswith('{"workload"'))
    return proc.returncode, detail, json.loads(lines[-1])


def expected(trace: int) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check(workload: str) -> list[str]:
    problems = []
    for trace in (0, 1):
        code, detail, result = run(workload, "--trace", str(trace))
        if result is None:
            problems.append(f"{workload} trace={trace}: exit {code}, no result")
            continue
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != expected(trace):
            problems.append(f"{workload} trace={trace}: metrics or units differ from the spec")
        if not result["correct"] or result["failed"] or detail["error_rate"]:
            problems.append(f"{workload} trace={trace}: failed operations {detail['errors']}")
        if trace:
            if not detail.get("spans_nest"):
                problems.append(f"{workload}: spans do not nest")
            for key in ("spark.unattributed_jobs_share", "tracing.overhead_s"):
                if key not in result["metrics"]:
                    problems.append(f"{workload}: {key} missing")
    code, detail, result = run(workload, "--trace", "0", "--corrupt")
    if result is None or result["correct"] or not detail["error_rate"] > 0:
        problems.append(f"{workload}: a falsified output left error_rate at 0")
    return problems


def check_bare() -> list[str]:
    """Only BENCHMARK.json and the benchmark: no program to run."""
    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    if (ROOT / "BENCHMARK.json").is_file():
        shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "hotlead_pages",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return ["without the program the benchmark must exit non-zero and print nothing"]
    return []


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    workloads = argv or [w["name"] for w in
                         json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]]
    problems = check_bare()
    for workload in workloads:
        problems += check(workload)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
