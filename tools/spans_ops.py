#!/usr/bin/env python3
"""Per-operation job breakdown of a traced benchmark run.

Reads the spans file that `perfbench/run.py --trace 1` keeps
(perfbench/.traces/spans-<workload>-<seed>.json) and prints, for every
operation of each traced pass:

  wall_s   the operation's wall time;
  jobs     the Spark jobs it started, in total and by layer (the call-site
           layer the benchmark's listener gave each job: sources,
           fileops.copy, fileops.delete, fileops.sync, fileops.digest, exec...);
  job_s    the summed duration of those jobs;
  gap_s    the driver gap: wall time not covered by any of its jobs
           (wall_s - job_s when the jobs do not overlap).

Jobs that no benchmark span owns (started from a thread the benchmark does
not own) are listed per pass as "(orphan)".

With --diff it compares two spans files, say of a parent and a change:
per operation (numbered repeats such as the exact calls summed into one
row), the jobs, job_s, driver gap and wall time of both side by side, each
the median over that file's traced passes, plus a total row.

Usage: python3 tools/spans_ops.py SPANS.json [SPANS.json ...]
       python3 tools/spans_ops.py --diff PARENT.json CHANGE.json
"""
import json
import re
import statistics
import sys
from collections import Counter

JOB_IDS = 1000000000000


def union_ns(intervals):
    """Summed length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def load_passes(path):
    """The traced passes of a spans file, in order: a list of
    (pass name, pass wall_s, [op row, ...], orphan jobs), where an op row
    is a dict of name, wall, jobs, job_s, gap and layers (a Counter)."""
    spans = json.load(open(path))
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["id"] >= JOB_IDS]
    passes = sorted((s for s in spans if s["parent"] == 0 and s["layer"] == "bench"),
                    key=lambda s: s["start_ns"])

    def op_of(span):
        """The operation span (a child of a pass) above `span`, if any."""
        while span is not None:
            parent = by_id.get(span["parent"])
            if parent is not None and parent["parent"] == 0 and parent["layer"] == "bench":
                return span
            span = parent
        return None

    ops_jobs = {}
    for j in jobs:
        op = op_of(by_id.get(j["parent"]))
        if op is not None:
            ops_jobs.setdefault(op["id"], []).append(j)

    out = []
    for p in passes:
        ops = sorted((s for s in spans if s["parent"] == p["id"] and s["layer"] != "check"),
                     key=lambda s: s["start_ns"])
        rows = []
        for op in ops:
            js = ops_jobs.get(op["id"], [])
            wall = (op["end_ns"] - op["start_ns"]) / 1e9
            covered = union_ns(
                (max(j["start_ns"], op["start_ns"]), min(j["end_ns"], op["end_ns"]))
                for j in js if min(j["end_ns"], op["end_ns"]) > max(j["start_ns"], op["start_ns"]))
            rows.append({"name": op["name"], "wall": wall, "jobs": len(js),
                         "job_s": sum(j["end_ns"] - j["start_ns"] for j in js) / 1e9,
                         "gap": wall - covered / 1e9,
                         "layers": Counter(j["layer"] for j in js)})
        orphans = [j for j in jobs if j["parent"] < 0
                   and p["start_ns"] <= j["start_ns"] <= p["end_ns"]]
        out.append((p["name"], (p["end_ns"] - p["start_ns"]) / 1e9, rows, orphans))
    return out


def report(path):
    print(f"== {path}")
    for name, wall, rows, orphans in load_passes(path):
        print(f"{name}: wall {wall:.3f} s, {len(rows)} ops")
        print(f"  {'op':<24}{'wall_s':>8}{'jobs':>6}{'job_s':>8}{'gap_s':>8}  jobs by layer")
        tot = Counter()
        tot_layers = Counter()
        for r in rows:
            tot.update(wall=r["wall"], jobs=r["jobs"], job_s=r["job_s"], gap=r["gap"])
            tot_layers.update(r["layers"])
            print(f"  {r['name']:<24}{r['wall']:>8.3f}{r['jobs']:>6}{r['job_s']:>8.3f}"
                  f"{r['gap']:>8.3f}  "
                  + ", ".join(f"{k} {v}" for k, v in sorted(r["layers"].items())))
        if orphans:
            print(f"  {'(orphan)':<24}{'':>8}{len(orphans):>6}"
                  f"{sum(j['end_ns'] - j['start_ns'] for j in orphans) / 1e9:>8.3f}")
        print(f"  {'total':<24}{tot['wall']:>8.3f}{tot['jobs']:>6}{tot['job_s']:>8.3f}"
              f"{tot['gap']:>8.3f}  "
              + ", ".join(f"{k} {v}" for k, v in sorted(tot_layers.items())))


def op_medians(path):
    """Per op, in first-seen order, the median over the traced passes of
    its jobs, job_s, gap and wall. Numbered repeats of an op ("exact_call
    0", "exact_call 1", ...) are summed into one row per pass."""
    per_op = {}
    for _, _, rows, _ in load_passes(path):
        sums = {}
        for r in rows:
            key = re.sub(r" \d+$", "", r["name"])
            acc = sums.setdefault(key, Counter())
            acc.update(jobs=r["jobs"], job_s=r["job_s"], gap=r["gap"], wall=r["wall"])
        sums["total"] = sum(sums.values(), Counter())
        for key, acc in sums.items():
            per_op.setdefault(key, []).append(acc)
    return {key: {f: statistics.median(a[f] for a in accs) for f in DIFF_FIELDS}
            for key, accs in per_op.items()}


DIFF_FIELDS = ("jobs", "job_s", "gap", "wall")


def diff(parent_path, change_path):
    """Per op: jobs, job_s, driver gap and wall of the parent and the
    change side by side (medians over each file's traced passes)."""
    a, b = op_medians(parent_path), op_medians(change_path)
    print(f"== {parent_path} -> {change_path} (medians over traced passes)")
    print(f"  {'op':<16}" + "".join(f"{f + '_s' if f in ('gap', 'wall') else f:>20}"
                                    for f in DIFF_FIELDS))
    names = [k for k in a if k != "total"] + [k for k in b if k not in a and k != "total"]
    names += ["total"] if "total" in a or "total" in b else []
    for op in names:
        cells = []
        for f in DIFF_FIELDS:
            fmt = "{:.0f}" if f == "jobs" else "{:.3f}"
            x = fmt.format(a[op][f]) if op in a else "-"
            y = fmt.format(b[op][f]) if op in b else "-"
            cells.append(f"{x + ' -> ' + y:>20}")
        print(f"  {op:<16}" + "".join(cells))


def main(argv):
    if len(argv) == 4 and argv[1] == "--diff":
        diff(argv[2], argv[3])
    elif len(argv) >= 2 and not argv[1].startswith("-"):
        for path in argv[1:]:
            report(path)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv)
