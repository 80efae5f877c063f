"""Benchmark self-test: fixed work must give repeatable counts.

Runs one seed twice per workload, short and traced, and asserts that both
runs report identical ``write_amp``, ``space_amp`` (to 1e-4 when the two
driver pids differ in width), ``log.logs_per_fold``,
``table.files_per_scan.*`` and ``session.jobs_per_op.*``, and that every
ingest_compact cycle leaves the same files per partition after
maintenance. Run from the repository root:

    python3 lakebench/selftest.py [--seed 3] [--seconds 8]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

WORKLOADS = ("ingest_compact", "scan_mix")
SAME_E2E = ("write_amp", "space_amp")
SAME_LAYER_PREFIXES = ("log.logs_per_fold", "table.files_per_scan.",
                       "session.jobs_per_op.")
PID_TOLERANCE = 1e-4


def run_once(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} run failed ({proc.returncode}):\n"
                         f"{proc.stderr[-4000:]}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])["metrics"]


def compare(workload: str, runs) -> list[str]:
    (d1, m1), (d2, m2) = runs
    problems = []
    # log keys embed the writer's pid: runs whose pids differ in width
    # write a few bytes more or less per commit, so byte ratios then only
    # agree to PID_TOLERANCE
    exact = len(str(d1["pid"])) == len(str(d2["pid"]))
    for k in SAME_E2E:
        a, b = d1["end_to_end"][k], d2["end_to_end"][k]
        if a != b if exact else abs(a - b) > PID_TOLERANCE * abs(a):
            problems.append(f"{k}: {a} != {b}")
    for k in m1:
        if k.startswith(SAME_LAYER_PREFIXES) and m1[k] != m2[k]:
            problems.append(f"{k}: {m1[k]['value']} != {m2[k]['value']}")
    if workload == "ingest_compact":
        for d in (d1, d2):
            shapes = {(c["partitions"], tuple(c["files_per_partition"]))
                      for c in d["layouts"]}
            if len(shapes) != 1:
                problems.append(f"files per partition differ by cycle: "
                                f"{d['layouts']}")
    return problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args(argv)
    failed = False
    for wl in WORKLOADS:
        runs = [run_once(wl, args.seed, args.seconds) for _ in range(2)]
        problems = compare(wl, runs)
        pids = ", ".join(str(d["pid"]) for d, _m in runs)
        print(f"{wl}: {'ok' if not problems else 'FAILED'} (pids {pids})")
        for line in problems:
            print(f"  {line}")
        failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
