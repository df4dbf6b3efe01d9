#!/usr/bin/env python3
"""Derives perfbench/expected.json, the results the benchmark checks.

    python3 perfbench/derive.py [query ...]

For every registered query (or the ones named) at sf0.001 it runs the
queries twice in opposite orders in one JVM and keeps the row count, the
order-insensitive digest (null when the two runs disagree, so only the
row count is checked) and the warm run's seconds, by which the surface
sample picks each module's cheapest query. Each query that has a DuckDB
oracle (SparkEntry.oracleSql) is cross-checked against it with the
comparison of tools/check.py; the verdict is stored as "oracle". Needs
the duckdb Python module; the benchmark itself does not.
"""
import json
import math
import shutil
import sys
from pathlib import Path

import duckdb

import run as bench

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXPECTED = bench.BENCH / "expected.json"


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(con, result_dir, sql):
    """tools/check.py's comparison: columns by name, rows in order."""
    got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    exp = con.sql(sql).df()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA got={list(got.columns)} exp={list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS got={len(got)} exp={len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            a, b = norm(a), norm(b)
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if a != b:
                    return f"VAL col={c} row={i}: {a!r} != {b!r}"
            elif str(a) != str(b):
                return f"VAL col={c} row={i}: {a!r} != {b!r}"
    return None


def derive(cp, names):
    sf_dir = bench.BENCH / "data" / "sf0.001"
    work = bench.BENCH / ".work" / "derive"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    rc, out = bench.run_jvm(cp, ["--derive", str(sf_dir), str(work)] + names,
                            work, timeout=3600)
    if rc != 0:
        sys.exit(f"derive run failed with {rc}; see {work}/jvm.log")
    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    got = {}
    for line in out:
        if not line.startswith('{"name"'):
            continue
        r = json.loads(line)
        q = r["name"]
        if "error" in r:
            print(f"{q}: ERROR {r['error']}")
            continue
        stable = r["hash"] == r["hash2"]
        verdict = "none"
        if q in oracle:
            bad = compare(con, work / "results" / q, oracle[q])
            verdict = "match" if bad is None else f"mismatch: {bad}"
        got[q] = {"rows": r["rows"], "hash": r["hash"] if stable else None,
                  "cost_s": round(r["cost_s"], 4), "oracle": verdict}
        print(f"{q}: rows {r['rows']} stable={stable} oracle={verdict}")
    shutil.rmtree(work, ignore_errors=True)
    return got


def main():
    cp = bench.build()
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    expected.update(derive(cp, sys.argv[1:]))
    EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
