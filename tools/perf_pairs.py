#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts (parent and change).

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload index \
        --seeds 11-20 [--seconds 5] [--trace 0] [--out runs.jsonl]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
alternating which side goes first (the first seed starts with the
parent). It then prints, per metric of the result line, each side's
median and quartiles and the fraction of pairs the change wins
(lower is better; ties count for neither side). A run whose output
checks fail is reported and left out of the summary. Each run's result
object is appended to --out as one JSON line when given.

Each end-to-end metric that the parent's BENCHMARK.json declares also
gets a verdict, with its `bound` read from that file:
  gain          the change wins at least 9/10 of the pairs and the
                medians differ by more than the parent's IQR;
  regressed     the change's median is worse than the parent's by more
                than the bound (a fraction of the parent's median);
  unresolved    neither, and the parent's IQR is wider than the bound,
                unless every change run beats every parent run;
  within bound  otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", args.trace]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    ok = proc.returncode == 0 and res is not None and res["correct"]
    return ok, res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(vals, par, chg, better, bound):
    """The verdict on one end-to-end metric from its (parent, change)
    pairs and each side's quartiles."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (a - b) > 0 for a, b in vals)
    iqr = par[2] - par[0]
    if wins >= 0.9 * len(vals) and sign * (par[1] - chg[1]) > iqr:
        return "gain"
    if sign * (chg[1] - par[1]) > bound * abs(par[1]):
        return "regressed"
    every = all(sign * (a - b) > 0 for a, _ in vals for _, b in vals)
    if iqr > bound * abs(par[1]) and not every:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        end_to_end = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        sides = [("parent", args.parent), ("change", args.change)]
        got = {}
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            ok, res = run(checkout, args, seed)
            print(f"seed {seed} {side}: {'ok' if ok else 'FAILED'}", flush=True)
            if args.out and res is not None:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"seed": seed, "side": side, "ok": ok,
                                         "result": res}) + "\n")
            got[side] = res["metrics"] if ok else None
        if got["parent"] and got["change"]:
            pairs.append(got)
    print(f"{len(pairs)} complete pairs, workload {args.workload}")
    for name in pairs[0]["parent"] if pairs else []:
        vals = [(p["parent"][name]["value"], p["change"][name]["value"])
                for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        par, chg = quartiles([a for a, _ in vals]), quartiles([b for _, b in vals])
        wins = sum(b < a for a, b in vals)
        m = end_to_end.get(name)
        judged = (f": {verdict(vals, par, chg, m['better'], m['bound'])}"
                  f" (bound {m['bound']})" if m else "")
        print(f"{name}: parent {par[1]:.4g} [{par[0]:.4g}, {par[2]:.4g}] "
              f"change {chg[1]:.4g} [{chg[0]:.4g}, {chg[2]:.4g}] "
              f"({(chg[1] - par[1]) / par[1] if par[1] else 0:+.1%}), change wins "
              f"{wins}/{len(vals)}, parent IQR {par[2] - par[0]:.4g}{judged}")


if __name__ == "__main__":
    main()
