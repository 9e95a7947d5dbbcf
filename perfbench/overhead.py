#!/usr/bin/env python3
"""Tracing overhead: runs one workload and seed untraced, then traced, and
prints each end-to-end metric from both runs with their difference.

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    report = {}
    for trace in (0, 1):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(trace)],
                           stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.exit(f"overhead: run with --trace {trace} failed")
        path = os.path.join(HERE, "_work", f"{a.workload}-s{a.seed}-t{trace}", "summary.json")
        with open(path) as fh:
            report[trace] = json.load(fh)["report"]
    for name, unit in END_TO_END:
        off, on = report[0][name]["value"], report[1][name]["value"]
        rel = (on - off) / off if off else float("nan")
        print(f"overhead {name}: untraced {off:.6g} {unit}, traced {on:.6g} {unit}, "
              f"difference {on - off:+.6g} {unit} ({rel:+.1%})")


if __name__ == "__main__":
    main()
