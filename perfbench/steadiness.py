#!/usr/bin/env python3
"""Steadiness evidence: two sets of runs of one commit, compared against the
bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b]

Two sets each run every workload `--runs` times untraced, each run with its
own seed (set 1 uses seeds 1..runs, set 2 seeds 101..100+runs). For every
end-to-end metric it reports, per set, the median and the spread (distance
between the first and third quartile as a share of the median), and the
drift of the second set's median from the first's in the worse direction.
A metric passes when the spread of each set and the drift stay within its
bound (spreads above a third of the bound are flagged); the share of failed
operations must be identical in every run. Raw results go to perfbench/out/steadiness.json.
Exit code 0 when everything passes.
"""
import argparse
from fractions import Fraction
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} seed {seed} failed with code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()

    results = {}  # workload -> [set] -> [run result]
    for s in range(SETS):
        for w in a.workloads.split(","):
            for i in range(a.runs):
                seed = 100 * s + i + 1
                r = run_once(w, seed, bench["run_seconds"])
                results.setdefault(w, [[] for _ in range(SETS)])[s].append(r)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steadiness.json"), "w") as fh:
        json.dump(results, fh, indent=1)

    ok = True
    print()
    print(f"{'workload':24s} {'metric':16s} {'bound':>6s} " +
          " ".join(f"{'median' + str(s + 1):>12s} {'spread' + str(s + 1):>8s}" for s in range(SETS)) +
          f" {'drift':>7s}  verdict")
    for w, sets in results.items():
        shares = {Fraction(r["failed"], r["attempted"]) for runs in sets for r in runs}
        if len(shares) != 1 or not all(r["correct"] for runs in sets for r in runs):
            ok = False
            print(f"{w}: failed shares {sorted(map(str, shares))} or an incorrect run")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, spreads = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                meds.append(statistics.median(vals))
                spreads.append(spread(vals) if len(vals) >= 2 else 0.0)
            sign = 1 if m["better"] == "lower" else -1
            drift = max(0.0, sign * (meds[1] - meds[0]) / meds[0])
            good = drift <= bound and max(spreads) <= bound
            steady = max(spreads) <= bound / 3
            ok = ok and good
            print(f"{w:24s} {name:16s} {bound:6.2f} " +
                  " ".join(f"{med:12.5g} {sp:8.4f}" for med, sp in zip(meds, spreads)) +
                  f" {drift:7.4f}  {'ok' if good else 'FAIL'}{'' if steady else ' (spread > bound/3)'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
