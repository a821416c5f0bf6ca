#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 jobbench/smoke.py

Runs every workload declared in BENCHMARK.json on a tiny input
(``--scale`` SCALE, ``--seed`` SEED), with
tracing off and on, each in its own process, and checks that the last
stdout line is a correct result naming exactly the metrics
BENCHMARK.json declares (``end_to_end`` untraced, ``per_layer``
traced). Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = 0.05
SEED = 7


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = 0
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(SEED), "--seconds", "1",
                   "--trace", str(trace), "--scale", str(SCALE)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit {proc.returncode}: {proc.stderr.strip()[-400:]}")
            else:
                res = json.loads(lines[-1])
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                    problems.append(f"not correct: attempted={res.get('attempted')} failed={res.get('failed')}")
                got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
                if got != declared[trace]:
                    missing = sorted(set(declared[trace]) - set(got))
                    extra = sorted(set(got) - set(declared[trace]))
                    units = sorted(k for k in set(got) & set(declared[trace]) if got[k] != declared[trace][k])
                    problems.append(f"metrics differ: missing={missing} extra={extra} unit={units}")
            print(f"{wl} trace={trace}: {'ok' if not problems else '; '.join(problems)}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
