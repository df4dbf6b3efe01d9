#!/usr/bin/env python3
"""Benchmark of the graft engine, one workload per process.

    python3 perfbench/run.py --workload corpus_heavy --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload smoke

Builds the engine's sources together with the harness in this directory
(sbt, once per source state), then runs one JVM that sets up the
workload, makes a cold pass and as many warm passes as fill about
--seconds at the workload's nominal pace, and checks every output. The
last line of standard output is one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}
with the end-to-end metrics, or with --trace 1 the per-layer ones.

Workloads: corpus_heavy, surface_sample and object_store (the ones
BENCHMARK.json names), and smoke: a tiny configuration whose expected
digest for one query is deliberately wrong; it exits 0 only if exactly
that query is reported as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
CLASSPATH_FILE = TARGET / "perfbench-classpath.txt"
WORKLOADS = ("corpus_heavy", "surface_sample", "object_store", "smoke")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    inputs = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(
        (BENCH / "src").rglob("*.scala")) + [
        BENCH / "build.sbt", BENCH / "project" / "build.properties",
        ROOT / "build.sbt"]
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    if CLASSPATH_FILE.exists():
        saved_stamp, _, cp = CLASSPATH_FILE.read_text().partition("\n")
        if saved_stamp == stamp and cp.strip():
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    cp = lines[-1]
    TARGET.mkdir(exist_ok=True)
    CLASSPATH_FILE.write_text(stamp + "\n" + cp + "\n")
    return cp


def run_jvm(cp, args, work, timeout=RUN_TIMEOUT_S):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dfile.encoding=UTF-8"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)

    def relay_err():
        for line in proc.stderr:
            log.write(line)
            if line.startswith(("[perfbench]", "smoke:")):
                sys.stderr.write(line)
    t = threading.Thread(target=relay_err, daemon=True)
    t.start()
    out = []
    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    timer = threading.Timer(timeout, kill)
    timer.start()
    # the JVM runs in its own process group: take it down with us
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: (kill(), sys.exit(1)))
    try:
        for line in proc.stdout:
            out.append(line.rstrip("\n"))
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        t.join(timeout=10)
        log.close()
    return rc, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workload = a.workload
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").exists():
        fail(f"engine sources not found under {ENGINE_SRC}")
    cp = build()
    work = BENCH / ".work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    rc, out = 1, []
    try:
        rc, out = run_jvm(cp, [
            "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--data", str(BENCH / "data")], work)
        if rc != 0 and workload != "smoke":
            sys.stderr.write("".join(
                open(work / "jvm.log").readlines()[-40:]))
            fail(f"benchmark process exited with {rc}")
    finally:
        if a.trace == 1:
            for f in (work / "trace").glob("*.json"):
                dst = BENCH / ".traces" / f.name
                dst.parent.mkdir(exist_ok=True)
                shutil.move(str(f), dst)
                out.insert(-1, f"spans kept in {dst.relative_to(ROOT)}")
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads(out[-1]) if out and out[-1].startswith("{") else None
    if result is None:
        fail("benchmark process printed no result")
    for line in out[:-1]:
        print(line)
    if workload == "smoke":
        spec = ROOT / "BENCHMARK.json"
        if spec.exists():
            names = [m["name"] for m in json.loads(spec.read_text())["end_to_end"]]
            if sorted(names) != sorted(result["metrics"]):
                print(f"smoke: metric names {sorted(result['metrics'])} "
                      f"differ from BENCHMARK.json {sorted(names)}",
                      file=sys.stderr)
                rc = 1
    print(json.dumps(result))
    sys.exit(rc if workload == "smoke" else 0)


if __name__ == "__main__":
    main()
