#!/usr/bin/env python3
"""The benchmark's own self-test.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` at a small size (1k-record
facade corpus, 300-record Spark corpus, a few seconds), untraced and
traced, each in its own process, and checks that the result line is
strict JSON, that every declared metric is emitted as exactly
``{"value", "unit"}`` with its declared unit, that the workload measures
some of them, and that no operation failed
(``ops_failed_frac == 0``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reject(constant: str):
    raise ValueError(f"{constant} is not JSON")


def run_one(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "6",
        "--trace", str(trace), "--small",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1], parse_constant=_reject)
    head = json.loads(lines[-2], parse_constant=_reject)
    named, unmeasured = head["named"], set(head["context"].get("unmeasured", ()))
    problems = []
    if named.get("ops_failed_frac") != {"value": 0, "unit": "ratio"}:
        problems.append(f"ops_failed_frac {named.get('ops_failed_frac')}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"failed {result['failed']} of {result['attempted']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    observed = 0
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None:
            problems.append(f"missing {m['name']}")
        elif (
            set(got) != {"value", "unit"}
            or got["unit"] != m["unit"]
            or isinstance(got["value"], bool)
            or not isinstance(got["value"], (int, float))
        ):
            problems.append(f"bad {m['name']}: {got}")
        elif m["name"] not in unmeasured:
            observed += 1
    if not observed:
        problems.append("no metric measured")
    extra = set(result["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = run_one(w["name"], trace, spec)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else problems}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
