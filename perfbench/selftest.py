"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

From the root of a checkout, it runs every workload at tiny size (sf0.001
tables, a short payload backlog) untraced and traced, and checks that:

* the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, that the outputs
  were correct, and that every metric BENCHMARK.json names is printed with
  its unit and a numeric value;
* the traced run's span tree is well formed: one root per operation and
  every child inside its parent;
* BENCHMARK.json agrees with the code: workload names, metric names and
  units, and the paced-tail rate written in the bronze workload's ``why``;
* in a directory holding only BENCHMARK.json and the benchmark's files,
  the command fails fast without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def invoke(cwd: str, workload: str, trace: int, timeout: int = 300):
    cmd = [*bench_config()["command"], "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def check_result(proc, expected: dict[str, str]) -> list[str]:
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    result = json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"outputs not correct: {json.loads(lines[-2]).get('failures')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        problems.append(f"metric names differ: {sorted(set(metrics) ^ set(expected))}")
    for name, unit in expected.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: {m}")
    return problems


def check_config() -> list[str]:
    cfg = bench_config()
    problems = []
    if [w["name"] for w in cfg["workloads"]] != list(workloads.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in cfg[key]}
        if listed != table:
            problems.append(f"BENCHMARK.json {key} differs: {sorted(set(listed.items()) ^ set(table.items()))}")
    why = next(w["why"] for w in cfg["workloads"] if w["name"] == "bronze_ingest")
    rate = re.search(r"([\d.]+) files/s", why)
    if not rate or float(rate.group(1)) != workloads.TAIL_FILES_PER_S:
        problems.append("bronze_ingest why does not state TAIL_FILES_PER_S")
    return problems


def check_bare_directory() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench_config()["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = invoke(bare, "bronze_ingest", 0, timeout=180)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode == 0 or (lines and lines[-1].startswith('{"correct"')):
            return ["the command succeeded in a directory without the program"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    problems = check_config() + check_bare_directory()
    for name in workloads.WORKLOADS:
        for trace, expected in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            found = check_result(invoke(ROOT, name, trace), expected)
            if trace:
                path = os.path.join(ROOT, ".perfbench_results", f"{name}-s7-trace.json")
                if not os.path.exists(path):
                    found.append("no trace file written")
                else:
                    with open(path, encoding="utf-8") as fh:
                        trace_file = json.load(fh)
                    if not trace_file["spans"]:
                        found.append("no spans recorded")
                    found += trace_file["span_problems"]
            problems += [f"{name} trace={trace}: {p}" for p in found]
            print(f"{name} trace={trace}: {'ok' if not found else found}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
