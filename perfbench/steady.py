#!/usr/bin/env python3
"""Steadiness check: run the benchmark repeatedly and report each metric's
median and quartiles.

    python3 perfbench/steady.py --workload catalog --runs 10 [--sets 1]

Run i uses seed i (1..runs). For every end-to-end metric the spread is the
distance between the first and third quartile (statistics.quantiles, n=4)
as a share of the median; a metric whose spread exceeds its bound in
BENCHMARK.json is flagged. With --sets 2 the seeds are run twice and a
metric whose second median is worse than the first by more than its bound
is flagged too. Exits 1 when anything is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b, {m["name"]: m for m in b["end_to_end"]}


def run_once(bench, workload, seed):
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        print(f"seed {seed}: {out['failed']} of {out['attempted']} ops failed", file=sys.stderr)
    return {k: v["value"] for k, v in out["metrics"].items()}


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def worse(first, second, better):
    """Share by which `second` is worse than `first`."""
    if not first:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    a = ap.parse_args(argv)
    bench, e2e = spec()
    seeds = range(1, a.runs + 1)
    sets = []
    for s in range(a.sets):
        runs = [run_once(bench, a.workload, seed) for seed in seeds]
        sets.append({m: summarize([r[m] for r in runs]) for m in e2e})
        sets[-1]["_values"] = {m: [r[m] for r in runs] for m in e2e}
    flagged = []
    for m, d in e2e.items():
        st = sets[0][m]
        line = (f"{m:>18} median {st['median']:.4g} q1 {st['q1']:.4g} q3 {st['q3']:.4g} "
                f"spread {st['spread']:.3f} bound {d['bound']}")
        if st["spread"] > d["bound"]:
            flagged.append(f"{m} spread")
            line += "  SPREAD OVER BOUND"
        elif st["spread"] > d["bound"] / 3:
            line += "  (over a third of bound)"
        if a.sets == 2:
            drift = worse(st["median"], sets[1][m]["median"], d["better"])
            line += f" | 2nd median {sets[1][m]['median']:.4g} worse by {drift:.3f}"
            if drift > d["bound"]:
                flagged.append(f"{m} drift")
                line += "  DRIFT OVER BOUND"
        print(line)
    with open(os.path.join(HERE, "out", f"steady-{a.workload}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seeds": list(seeds), "sets": sets}, fh, indent=1)
    if flagged:
        print("flagged: " + ", ".join(flagged))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
