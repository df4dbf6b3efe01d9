#!/usr/bin/env python3
"""Paired, interleaved A/B of two checkouts on one benchmark workload.

    python3 tools/ab.py CHECKOUT_A CHECKOUT_B --workload W --seeds 16-25
                        [--seconds 20] [--json OUT.json]

Runs `perfbench/run.py --workload W --seed S --seconds N --trace 0` in each
checkout once per seed, alternating which side runs first (A first on the
first seed, B first on the next, ...), so host drift hits both sides alike.
Each run builds from its own checkout's sources.

Prints, per end-to-end metric of A's BENCHMARK.json: each side's median and
quartiles, B's change against A's median, how many pairs B won (ties count
for neither side), and a verdict:

  gain     B won at least nine tenths of the pairs, and the medians differ
           in B's favour by more than A's interquartile range;
  WORSE    B's median is worse than A's by more than the metric's bound;
  (blank)  neither.

A run that exits non-zero or prints no result is reported and left out of
its pair. --json writes every run's metrics for later reading.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    """'16-25' or '3,5,7' -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    """One benchmark run; its metric values, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(f"ab: {checkout} seed {seed} exited {r.returncode}\n"
                         + r.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--json")
    args = ap.parse_args()
    a, b = Path(args.a).resolve(), Path(args.b).resolve()
    spec = json.loads((a / "BENCHMARK.json").read_text())["end_to_end"]

    pairs, runs = [], []
    for i, seed in enumerate(seeds(args.seeds)):
        order = [("A", a), ("B", b)] if i % 2 == 0 else [("B", b), ("A", a)]
        got = {}
        for side, checkout in order:
            got[side] = run(checkout, args.workload, seed, args.seconds)
            runs.append({"side": side, "seed": seed, "metrics": got[side]})
        print(f"seed {seed}: {order[0][0]} first, "
              f"pass_s A {got['A'] and got['A'].get('pass_s')} "
              f"B {got['B'] and got['B'].get('pass_s')}", file=sys.stderr)
        if got["A"] is not None and got["B"] is not None:
            pairs.append((got["A"], got["B"]))
    if args.json:
        Path(args.json).write_text(json.dumps(runs, indent=1))

    failed = sum(r["metrics"] is None for r in runs)
    print(f"{args.workload}: {len(pairs)} pairs, seeds {args.seeds}, "
          f"{failed} failed runs, A={a} B={b}")
    print(f"{'metric':<15}{'A median [q1, q3]':>32}{'B median [q1, q3]':>32}"
          f"{'change':>9}{'B wins':>8}  verdict")
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        xa = [p[0][name] for p in pairs if name in p[0] and name in p[1]]
        xb = [p[1][name] for p in pairs if name in p[0] and name in p[1]]
        if not xa:
            continue
        ma, mb = statistics.median(xa), statistics.median(xb)
        (a1, a3), (b1, b3) = quartiles(xa), quartiles(xb)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(xa, xb))
        gain = (mb - ma) * (-1 if lower else 1)
        change = (mb - ma) / ma if ma else 0.0
        worse = -gain / abs(ma) if ma else 0.0
        verdict = ""
        if wins * 10 >= 9 * len(xa) and gain > a3 - a1:
            verdict = "gain"
        elif worse > m["bound"]:
            verdict = "WORSE"
        sa, sb = (f"{med:.4g} [{q1:.4g}, {q3:.4g}]"
                  for med, q1, q3 in ((ma, a1, a3), (mb, b1, b3)))
        print(f"{name:<15}{sa:>32}{sb:>32}"
              f"{change:>+9.1%}{wins:>5}/{len(xa):<2}  {verdict}")


if __name__ == "__main__":
    main()
