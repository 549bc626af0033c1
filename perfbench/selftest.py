#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

From the repository root, on a few thousand rows:
- every workload, untraced and traced, prints every metric BENCHMARK.json
  names, with its unit, and passes its checks;
- a planted wrong output (one digest row dropped) is caught: ``failed`` > 0
  and ``correct`` is false;
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the command exits non-zero without printing a result.
Exits 0 when every case holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = "3000"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(load_spec()["command"] + args, cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if p.returncode != 0 and last is not None:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, last


def main() -> int:
    spec = load_spec()
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    base = ["--seed", "7", "--seconds", "1", "--rows", ROWS]
    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, out = run(["--workload", w, "--trace", str(trace)] + base)
            expect(rc == 0 and out is not None, f"{w} trace={trace}: exit 0 with a result")
            if out is None:
                continue
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{w} trace={trace}: outputs correct ({out['failed']}/{out['attempted']} failed)")
            m = out["metrics"]
            missing = [x["name"] for x in names
                       if x["name"] not in m or m[x["name"]].get("unit") != x["unit"]
                       or not isinstance(m[x["name"]].get("value"), (int, float))]
            expect(not missing, f"{w} trace={trace}: every metric with its unit {missing or ''}")
        rc, out = run(["--workload", w, "--trace", "0", "--plant", "drop_digest"] + base)
        expect(out is not None and out["failed"] > 0 and not out["correct"],
               f"{w}: planted dropped digest makes error_rate > 0")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run(["--workload", spec["workloads"][0]["name"], "--trace", "0"] + base, cwd=bare)
    expect(rc != 0 and out is None, "bare directory: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
