#!/usr/bin/env python3
"""Paired A/B of the repository benchmark between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload train \\
        --seeds 601-610 [--claim wall_s]

Runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
(N = BENCHMARK.json's `run_seconds`) in each checkout, one seed per pair,
alternating which side goes first, and reads only the last line of each
run's output (the result JSON). It prints every pair, then each side's
median and quartiles per end-to-end metric, then the verdict:

  - the claimed metric improves when the change wins at least 9/10 of the
    pairs (ties count for neither side) and the medians differ by more than
    the parent's interquartile range;
  - every other end-to-end metric holds when the change's median is worse
    than the parent's by no more than the metric's bound in BENCHMARK.json.

A run that exits non-zero or prints no result counts as a failed run of its
side. Each run's full output is kept under --logs. Run one A/B at a time:
the workloads use every core.
"""
import argparse
import json
import math
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # keep perfbench/ free of build output
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "perfbench"))
from steadiness import seeds, spec, summary  # noqa: E402


def run_once(checkout, workload, seed, seconds, log_path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    with open(log_path, "w") as log:
        proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                              stderr=log, text=True)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def value(res, metric):
    return res["metrics"][metric]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True,
                    help="e.g. 601-610; one pair per seed")
    ap.add_argument("--claim", default=None,
                    help="end-to-end metric the change claims to improve")
    ap.add_argument("--logs", default="ab_logs", help="directory for each run's output")
    a = ap.parse_args()

    bench = spec()
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    if a.claim is not None and a.claim not in e2e:
        sys.exit(f"--claim {a.claim}: not an end-to-end metric ({', '.join(e2e)})")
    os.makedirs(a.logs, exist_ok=True)

    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    pairs = []
    print(f"{'pair':>4} {'seed':>6} {'first':>6} | "
          + " | ".join(f"{s:>6} " + " ".join(f"{m:>9}" for m in e2e) + "  correct failed"
                       for s in sides), flush=True)
    for k, seed in enumerate(a.seeds):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            log = os.path.join(a.logs, f"{a.workload}_{seed}_{side}.log")
            pair[side] = run_once(sides[side], a.workload, seed, seconds, log)
        pairs.append(pair)
        cells = []
        for side in sides:
            r = pair[side]
            if r is None:
                cells.append(f"{'':>6} " + " ".join(f"{'-':>9}" for _ in e2e) + "  RUN FAILED")
                continue
            results[side].append(r)
            cells.append(f"{'':>6} " + " ".join(f"{value(r, m):>9.3f}" for m in e2e)
                         + f"  {str(r['correct']):>7} {r['failed']:>6}")
        print(f"{k + 1:>4} {seed:>6} {order[0]:>6} | " + " | ".join(cells), flush=True)

    print()
    med = {}
    for side in sides:
        rs = results[side]
        print(f"{side}: {len(rs)}/{len(a.seeds)} runs with a result, "
              f"{sum(1 for r in rs if not r['correct'])} not correct, "
              f"{sum(r['failed'] for r in rs)} failed calls of {sum(r['attempted'] for r in rs)}")
        for m, ms in e2e.items():
            vs = [value(r, m) for r in rs]
            if len(vs) < 2:
                continue
            q2, q1, q3, _ = summary(vs)
            med[(side, m)] = (q2, q3 - q1)
            print(f"  {m}: median {q2:.3f} {ms['unit']}, quartiles {q1:.3f}-{q3:.3f} "
                  f"(IQR {q3 - q1:.3f})")

    ok = all(p["parent"] is not None and p["change"] is not None for p in pairs)
    ok = ok and all(r["correct"] and r["failed"] == 0 for s in sides for r in results[s])
    print()
    for m, ms in e2e.items():
        if ("parent", m) not in med or ("change", m) not in med:
            print(f"{m}: no verdict (a side has no results)")
            ok = False
            continue
        (pm, piqr), (cm, _) = med[("parent", m)], med[("change", m)]
        sign = 1 if ms["better"] == "lower" else -1
        gain = sign * (pm - cm)  # > 0: the change is better
        both = [p for p in pairs if p["parent"] is not None and p["change"] is not None]
        wins = sum(1 for p in both if sign * (value(p["parent"], m) - value(p["change"], m)) > 0)
        rel = -gain / pm
        if m == a.claim:
            need = math.ceil(0.9 * len(a.seeds))
            met = wins >= need and gain > piqr
            ok = ok and met
            print(f"{m} (claimed): {pm:.3f} -> {cm:.3f} {ms['unit']} ({rel:+.1%}), "
                  f"change wins {wins}/{len(a.seeds)} (need {need}), median gap {gain:.3f} "
                  f"vs parent IQR {piqr:.3f}: {'MET' if met else 'NOT MET'}")
        else:
            held = rel <= ms["bound"]
            ok = ok and held
            print(f"{m}: {pm:.3f} -> {cm:.3f} {ms['unit']} ({rel:+.1%}, bound "
                  f"{ms['bound']:.0%}), change wins {wins}/{len(a.seeds)}: "
                  f"{'within bound' if held else 'REGRESSION'}")
    print(f"verdict: {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
