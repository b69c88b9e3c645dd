#!/usr/bin/env python3
"""Steadiness check: run workloads on several seeds and print, per
end-to-end metric, the quartile spread (IQR / median) next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload live_steady ...] [--first-seed 1]

A metric is steady when its spread stays below a third of its bound;
setup_s is held to the same rule. Every run's last line is also
appended to .bench_build/perfbench/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    args = ap.parse_args()
    log = os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in args.workload or names:
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE)
            wall = time.time() - t0
            last = p.stdout.decode().strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last)
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "exit": p.returncode,
                                     "wall_s": round(wall, 1), "result": res}) + "\n")
            if p.returncode != 0 or not res.get("correct"):
                ok = False
                print("%s seed %d: exit %d correct=%s" % (w, seed, p.returncode, res.get("correct")))
            for k, m in res.get("metrics", {}).items():
                values.setdefault(k, []).append(m["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            sp = stats.spread(xs)
            b = bounds.get(k)
            flag = "" if b is None or sp < b / 3 else "  <-- above bound/3"
            if flag:
                ok = False
            print("%-16s %-18s median %12.4f  spread %.4f  bound %s%s"
                  % (w, k, statistics.median(xs), sp, b, flag))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
