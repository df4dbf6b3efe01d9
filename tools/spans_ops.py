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

Usage: python3 tools/spans_ops.py SPANS.json [SPANS.json ...]
"""
import json
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


def report(path):
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

    print(f"== {path}")
    for p in passes:
        ops = sorted((s for s in spans if s["parent"] == p["id"] and s["layer"] != "check"),
                     key=lambda s: s["start_ns"])
        print(f"{p['name']}: wall {(p['end_ns'] - p['start_ns']) / 1e9:.3f} s, {len(ops)} ops")
        print(f"  {'op':<24}{'wall_s':>8}{'jobs':>6}{'job_s':>8}{'gap_s':>8}  jobs by layer")
        tot = Counter()
        tot_layers = Counter()
        for op in ops:
            js = ops_jobs.get(op["id"], [])
            wall = (op["end_ns"] - op["start_ns"]) / 1e9
            job_s = sum(j["end_ns"] - j["start_ns"] for j in js) / 1e9
            covered = union_ns(
                (max(j["start_ns"], op["start_ns"]), min(j["end_ns"], op["end_ns"]))
                for j in js if min(j["end_ns"], op["end_ns"]) > max(j["start_ns"], op["start_ns"]))
            gap = wall - covered / 1e9
            layers = Counter(j["layer"] for j in js)
            tot.update(wall=wall, jobs=len(js), job_s=job_s, gap=gap)
            tot_layers.update(layers)
            print(f"  {op['name']:<24}{wall:>8.3f}{len(js):>6}{job_s:>8.3f}{gap:>8.3f}  "
                  + ", ".join(f"{k} {v}" for k, v in sorted(layers.items())))
        orphans = [j for j in jobs if j["parent"] < 0
                   and p["start_ns"] <= j["start_ns"] <= p["end_ns"]]
        if orphans:
            print(f"  {'(orphan)':<24}{'':>8}{len(orphans):>6}"
                  f"{sum(j['end_ns'] - j['start_ns'] for j in orphans) / 1e9:>8.3f}")
        print(f"  {'total':<24}{tot['wall']:>8.3f}{tot['jobs']:>6}{tot['job_s']:>8.3f}"
              f"{tot['gap']:>8.3f}  "
              + ", ".join(f"{k} {v}" for k, v in sorted(tot_layers.items())))


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    for path in argv[1:]:
        report(path)


if __name__ == "__main__":
    main(sys.argv)
