"""Smoke test of the benchmark on sf0.001 inputs.

Runs every workload in ``BENCHMARK.json`` through the timed path
(``--trace 0``) and the traced path (``--trace 1``); both include the
warm-up pass and its correctness check. Asserts that each run exits 0,
reports ``correct`` with nothing failed, and prints exactly the metrics
``BENCHMARK.json`` names, with their units. Last, it checks that the
benchmark refuses to run, without printing a record, from a directory
that holds only ``BENCHMARK.json`` and the benchmark's own files.

    python3 perfbench/smoke.py        # from the repository root; ~5 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if cwd == REPO:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = _run(REPO, w["name"], trace)
            label = f"{w['name']} --trace {trace}"
            if out.returncode != 0:
                problems.append(f"{label}: exit {out.returncode}: {out.stderr[-1500:]}")
                continue
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            if sorted(rec) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{label}: record keys {sorted(rec)}")
            if not rec["correct"] or rec["failed"] or rec["attempted"] < 1:
                problems.append(f"{label}: correct={rec['correct']} failed={rec['failed']} "
                                f"detail={out.stdout.strip().splitlines()[-2]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in rec["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics differ from BENCHMARK.json {key}: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            bad = [k for k, v in rec["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{label}: non-numeric values {bad}")
            print(f"ok {label}", flush=True)

    bare = os.path.join(REPO, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(bare, spec["workloads"][0]["name"], 0)
    if out.returncode == 0 or out.stdout.strip():
        problems.append(f"bare directory: exit {out.returncode}, stdout {out.stdout[-300:]!r}")
    else:
        print("ok bare directory refused", flush=True)
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
