"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke.py

Checks that:
  - every end-to-end metric prints, with its unit, on each workload;
  - a traced run prints every per-layer metric with its unit;
  - a deliberately corrupted digest registers as a failure (correct is
    false, failed > 0), while the run still completes;
  - in a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result.
Takes a few minutes; exits non-zero on the first broken check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import config  # noqa: E402


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--seconds", "1", "--size", "tiny", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(lines: list[str], expected: list[tuple[str, str]], what: str) -> dict:
    result = json.loads(lines[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")
    metrics = result["metrics"]
    for name, unit in expected:
        m = metrics.get(name)
        check(m is not None and m["unit"] == unit and isinstance(m["value"], (int, float)),
              f"{what}: {name} in {unit}")
        check(any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines),
              f"{what}: {name} printed with its unit")
    return result


def main() -> int:
    workloads = list(config.WORKLOADS)
    corrupt_job = config.WORKLOADS[workloads[0]]["jobs"][0]
    for i, w in enumerate(workloads):
        extra = ["--corrupt", corrupt_job] if i == 0 else []
        rc, lines = run(["--workload", w, "--seed", "1", "--trace", "0", *extra])
        check(rc == 0, f"{w}: exit 0")
        res = check_metrics(lines, config.END_TO_END, w)
        check(res["attempted"] >= 1, f"{w}: attempted >= 1")
        if extra:
            check(res["correct"] is False and res["failed"] > 0,
                  f"{w}: corrupted digest of {corrupt_job} counts as failure")
        else:
            check(res["correct"] is True and res["failed"] == 0, f"{w}: correct, none failed")

    rc, lines = run(["--workload", workloads[-1], "--seed", "2", "--trace", "1"])
    check(rc == 0, "traced run: exit 0")
    res = check_metrics(lines, config.per_layer_metrics(), "traced run")
    check(res["correct"] is True, "traced run: correct")

    bare = os.path.join(ROOT, config.WORK_DIR, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run(["--workload", workloads[0], "--seed", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not any(line.startswith("{") for line in lines),
          "bare directory: non-zero exit, no result")
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
