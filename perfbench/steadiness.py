#!/usr/bin/env python3
"""Steadiness report for the benchmark.

    python3 perfbench/steadiness.py collect --workload corpus --seeds 1-10 --out A.jsonl
    python3 perfbench/steadiness.py report A.jsonl B.jsonl

`collect` runs the one command once per seed (`--trace 0`, BENCHMARK.json's
`run_seconds`) and appends each run's result line, tagged with workload and
seed, to a JSON-lines file. `report` takes two such sets of runs of the same
code and prints, per (end-to-end metric, workload), each set's median and
quartiles (`statistics.quantiles(values, n=4)`), the quartile spread as a
share of the median, and whether the sets agree within the metric's bound:
each spread within the bound and the two medians apart by no more than the
bound, |B - A| / A, in either direction. Exits 1 if any pair disagrees.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    secs = str(spec()["run_seconds"])
    for seed in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", secs, "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"{a.workload} seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res.update(workload=a.workload, seed=seed)
        with open(a.out, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"{a.workload} seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(a):
    bench = spec()
    sets = [load(p) for p in (a.first, a.second)]
    ok = True
    print(f"{'workload':8} {'metric':14} {'bound':>5} | {'median A':>10} {'Q1':>10} {'Q3':>10} "
          f"{'spread':>6} | {'median B':>10} {'Q1':>10} {'Q3':>10} {'spread':>6} | "
          f"{'B vs A':>7} verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            cols = []
            for runs in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in runs
                        if r["workload"] == w and m["name"] in r["metrics"]]
                cols.append((summary(vals), len(vals)) if len(vals) >= 2 else None)
            if None in cols:
                print(f"{w:8} {m['name']:14} too few runs")
                ok = False
                continue
            (ma, q1a, q3a, sa), na = cols[0]
            (mb, q1b, q3b, sb), nb = cols[1]
            diff = (mb - ma) / ma
            agree = sa <= m["bound"] and sb <= m["bound"] and abs(diff) <= m["bound"]
            ok &= agree
            print(f"{w:8} {m['name']:14} {m['bound']:5.2f} | {ma:10.4g} {q1a:10.4g} {q3a:10.4g} "
                  f"{sa:6.3f} | {mb:10.4g} {q1b:10.4g} {q3b:10.4g} {sb:6.3f} | {diff:+7.3f} "
                  f"{'agree' if agree else 'DISAGREE'} (n={na}/{nb})")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("first")
    r.add_argument("second")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    else:
        sys.exit(report(a))


if __name__ == "__main__":
    main()
