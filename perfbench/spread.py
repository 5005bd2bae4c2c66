#!/usr/bin/env python3
"""Steadiness check: run the benchmark on one workload with several seeds
and print, per end-to-end metric, the median and the interquartile spread
as a share of the median, next to the metric's bound.

    python3 perfbench/spread.py --workload curate_train --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values, bad = {}, 0
    for s in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        p = subprocess.run(cmd, capture_output=True, text=True)
        run_s = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        lines = p.stdout.strip().splitlines()
        line, diag = json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]
        print(f"seed {s}: {run_s:.0f} s correct={line['correct']} failed={line['failed']}/{line['attempted']} " +
              f"steal_ms={diag['steal_ms']} anchors={diag['anchors']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(line["metrics"].items())), flush=True)
        bad += not line["correct"]
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in sorted(values.items()):
        if len(xs) >= 2 and statistics.median(xs):
            sp = metrics.spread(xs)
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if sp < b / 3 else ("within bound" if sp <= b else "TOO WIDE"))
            print(f"{k:40s} median={statistics.median(xs):.5g} spread={sp:.4f} bound={b} {flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
