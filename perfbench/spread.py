#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage, from the repository root:

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--seconds S]

Runs the benchmark once per seed, then prints for each end-to-end metric
the median, the quartiles and the interquartile range as a share of the
median, beside the metric's bound from BENCHMARK.json (the share of the
median by which it may worsen). A spread above a third of the bound is
marked, because two sets of runs must then agree within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        detail = json.loads(r.stdout.strip().splitlines()[-2])
        rounds = " ".join(f"{x:.2f}" for x in detail["figures"].get("round_s", []))
        prov = detail["provenance"]
        control = (f"control_ms={prov['control_before_ms']:.0f}/{prov['control_after_ms']:.0f}"
                   f" jit_ms={prov['measured_jit_ms']} gc_ms={prov['measured_gc_ms']}"
                   f" steal_pct={prov['measured_steal_pct']}")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f" {control} rounds_s=[{rounds}]", flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    print(f"\n{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "  > bound/3" if spread > m["bound"] / 3 and m["name"] != "setup_s" else ""
        print(f"{m['name']:16s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{m['bound']:6.2f}{flag}")


if __name__ == "__main__":
    main()
