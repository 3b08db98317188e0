"""Smoke-size self-test of the benchmark (sf0.001-sized tables, tiny fixture).

    python3 perfbench/selftest.py

Run from the repository root. For every workload in BENCHMARK.json, plus
``dataprep_ops``, one untraced and one traced smoke run must pass their
correctness checks and print every named metric with its unit, both in the
summary lines and in the final JSON. Then each correctness check is shown to
fire: a run with one output deliberately corrupted must exit non-zero with
``correct: false``. Takes several minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import subprocess
import sys

CORRUPTIONS = [
    ("bulk_bfs", "text"),   # one extracted text altered
    ("bulk_bfs", "seen"),   # one seen fingerprint dropped
    ("polite_rounds", "text"),
    ("polite_rounds", "seen"),
    ("dataprep_ops", "query"),  # one result row dropped
]


def run(workload: str, trace: int, corrupt: str | None = None) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, capture_output=True, text=True)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for name in [w["name"] for w in spec["workloads"]] + ["dataprep_ops"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, lines = run(name, trace)
            if code != 0 or not lines:
                problems.append(f"{name} trace={trace}: exit {code}")
                continue
            result = json.loads(lines[-1])
            summary = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if ln.split()}
            if not result["correct"] or result["failed"] or "ops_failed_frac" not in summary:
                problems.append(f"{name} trace={trace}: checks failed")
            for m in wanted:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or summary.get(m["name"]) != m["unit"]:
                    problems.append(f"{name} trace={trace}: {m['name']} not printed "
                                    f"with unit {m['unit']}")
            print(f"ok   {name} trace={trace}: {len(wanted)} metrics", flush=True)
    for name, corrupt in CORRUPTIONS:
        code, lines = run(name, 0, corrupt)
        caught = code != 0 and lines and not json.loads(lines[-1])["correct"]
        if not caught:
            problems.append(f"{name} --corrupt {corrupt}: not caught (exit {code})")
        else:
            print(f"ok   {name} --corrupt {corrupt}: caught, exit {code}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
