"""Tracing overhead: run one workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload query --seed 1 [--seconds 10]

Prints one JSON line with each end-to-end metric of the untraced run, the
same figure from the traced run (its ``trace.*`` metrics) and the traced
run's relative difference -- the overhead of Spark's event log.  The counts a
seed fixes (dictionary rows, postings, index bytes and files, bytes written
per commit) must repeat exactly between the two runs; the script exits 1
when they do not, or when either run fails or reports an incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("dictionary_rows", "postings", "index_bytes", "index_files", "index_bytes_per_content_byte", "commit_bytes_per_changed_byte")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE),
        stdout=subprocess.PIPE,
        check=True,
        text=True,
    ).stdout.strip().splitlines()
    report, result = json.loads(out[-2])["report"], json.loads(out[-1])
    if not result["correct"]:
        raise SystemExit(f"trace={trace} run reported incorrect output: {result}")
    return report, result["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=M.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    a = p.parse_args()
    plain_report, plain = run(a.workload, a.seed, a.seconds, 0)
    traced_report, traced = run(a.workload, a.seed, a.seconds, 1)
    rows = {}
    for name in M.E2E:
        u, t = plain[name]["value"], traced["trace." + name]["value"]
        rows[name] = {"untraced": u, "traced": t, "overhead": (t - u) / u}
    drift = {c: (plain_report.get(c), traced_report.get(c)) for c in COUNTS if plain_report.get(c) != traced_report.get(c)}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "metrics": rows, "count_drift": drift}))
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main())
