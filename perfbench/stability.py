#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
next to the metric's bound from BENCHMARK.json. Run from the repository root:

    python3 perfbench/stability.py --seeds 1-10 [--workloads elt_daily,...]

Runs are sequential; each run's last line and wall time go to
.bench_build/stability/<workload>.jsonl."""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(".bench_build", "stability")
    os.makedirs(out_dir, exist_ok=True)
    for w in names:
        rows = []
        with open(os.path.join(out_dir, f"{w}.jsonl"), "a") as log:
            for s in seeds(args.seeds):
                cmd = bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                          str(bench["run_seconds"]), "--trace", "0"]
                t0 = time.monotonic()
                p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                wall = time.monotonic() - t0
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                if p.returncode != 0 or not last.startswith("{"):
                    print(f"{w} seed {s}: exit {p.returncode}", flush=True)
                    continue
                r = json.loads(last)
                log.write(json.dumps({"seed": s, "wall_s": wall, **r}) + "\n")
                rows.append(r)
                print(f"{w} seed {s}: wall={wall:.1f}s correct={r['correct']} " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        if len(rows) < 2:
            continue
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rows]
            spread = benchlib.quartile_spread(vals) if len(vals) >= 2 else float("nan")
            ok = "ok" if m == "setup_s" or spread < bounds[m] / 3 else "WIDE"
            print(f"{w} {m}: median={statistics.median(vals):.5g} spread={spread:.4f} "
                  f"bound={bounds[m]} {ok}", flush=True)


if __name__ == "__main__":
    main()
