#!/usr/bin/env python3
"""Steadiness check: repeat each workload over several seeds and report,
for every end-to-end metric, the median and the spread (distance between
the first and third quartile, as a share of the median), next to the
bound BENCHMARK.json allows.

    python3 lifebench/spread.py --seeds 1-10
    python3 lifebench/spread.py --workloads pdf_enrich --seeds 1-5

Each run measures for BENCHMARK.json's run_seconds. A spread at or above
a third of its bound is flagged ("wide"). The failed share of every run
is printed too: it must be identical across runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in a.workloads.split(","):
        runs[w] = []
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            runs[w].append(res)
            share = res["failed"] / res["attempted"]
            print(f"{w} seed {s}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} ({share:.4f}) " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  flush=True)
    print()
    print(f"{'workload':<12} {'metric':<12} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for w, rs in runs.items():
        for m in sorted(bounds):
            vals = [r["metrics"][m]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bounds[m] / 3 else "  wide"
            print(f"{w:<12} {m:<12} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                  f"{spread:>7.3f} {bounds[m]:>6}{flag}")
        shares = sorted({r["failed"] / r["attempted"] for r in rs})
        print(f"{w:<12} failed share per run: {shares}"
              f"{'' if len(shares) == 1 else '  NOT CONSTANT'}; "
              f"all correct: {all(r['correct'] for r in rs)}")


if __name__ == "__main__":
    main()
