#!/usr/bin/env python3
"""Run sets for checking that the benchmark is steady.

    python3 perfbench/spread.py run --seeds 1-10 [--workloads a,b] [--out FILE] [--save DIR]
    python3 perfbench/spread.py compare FIRST.json SECOND.json

`run` runs every workload of BENCHMARK.json once per seed (untraced) and
prints, per end-to-end metric, the median and the interquartile spread as a
share of the median (statistics.quantiles, n=4), next to the metric's bound.
`compare` prints how far each set's medians are worse than the other's, in
both directions (either set may be the parent's), and flags a metric whose
move exceeds its bound.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
BOUND = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
LOWER = {m["name"]: m["better"] == "lower" for m in BENCH["end_to_end"]}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_set(a):
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in BENCH["workloads"]]
    result = {}
    for w in names:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.perf_counter()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(s), "--seconds", str(BENCH["run_seconds"]),
                                  "--trace", "0"] + (["--save", a.save] if a.save else []),
                                 cwd=ROOT, stdout=subprocess.PIPE, text=True)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "null"
            res = json.loads(line) if out.returncode == 0 else None
            if not res or not res["correct"]:
                print(f"{w} seed {s}: run failed or incorrect: {res}", file=sys.stderr)
            took = time.perf_counter() - t0
            runs.append({"seed": s, "result": res, "run_s": round(took, 1)})
            print(w, s, f"({took:.0f} s)", json.dumps(res), flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        stats = {}
        for m in BOUND:
            vals = [r["metrics"][m]["value"] for r in ok]
            if len(vals) >= 2:
                stats[m] = {"median": statistics.median(vals), "spread": spread(vals),
                            "bound": BOUND[m]}
                print(f"  {w:16s} {m:12s} median {stats[m]['median']:.4g}  spread "
                      f"{stats[m]['spread']:.3f}  (bound {BOUND[m]}, aim < {BOUND[m] / 3:.3f})")
        result[w] = {"runs": runs, "stats": stats}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(result, fh, indent=1)


def compare(a):
    with open(a.first) as f1, open(a.second) as f2:
        one, two = json.load(f1), json.load(f2)
    def worse(base, new, m):
        return (new / base - 1) if LOWER[m] else (1 - new / base)

    bad = 0
    for w in one:
        for m, s in one[w]["stats"].items():
            m1, m2 = s["median"], two[w]["stats"][m]["median"]
            ab, ba = worse(m1, m2, m), worse(m2, m1, m)
            ok = ab <= BOUND[m] and ba <= BOUND[m]
            bad += not ok
            print(f"{'OK ' if ok else 'BAD'} {w:16s} {m:12s} {m1:.4g} <-> {m2:.4g}  worse by "
                  f"{ab:+.3f} (first->second) / {ba:+.3f} (second->first)  (bound {BOUND[m]})")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads")
    r.add_argument("--out")
    r.add_argument("--save", help="directory for the full run records")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    run_set(a) if a.cmd == "run" else compare(a)


if __name__ == "__main__":
    main()
