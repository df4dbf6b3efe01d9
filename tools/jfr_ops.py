#!/usr/bin/env python3
"""Where the benchmark's operation thread spends its samples, pass by pass.

    python3 tools/jfr_ops.py WORKLOAD SEED [--seconds 20] [--keep DIR]

Builds the engine and the harness with perfbench/run.py's build() and
runs perfbench.Main once through run.py's own JVM launcher (so with its
java flags), adding through JAVA_TOOL_OPTIONS a flight recording
(settings=profile, stackdepth=256) and a class-load log. Then prints:

  per pass, the execution samples of the `perfbench-op` thread (the one
  thread that runs every operation), each put in the first of these
  buckets that a frame of its stack matches, scanning from the leaf:
    class-load       class loading and linking (ClassLoader, Class.forName)
    codegen          Janino and Catalyst's code generators
    closure-cleaner  Spark's ClosureCleaner
    catalyst         any other org.apache.spark.sql frame
    job-wait         job submission and waiting (SparkContext.runJob,
                     DAGScheduler, JobWaiter)
    other            none of these
  with the number of those samples that hold any org.apache.spark.sql
  frame at all;

  the classes loaded while the cold pass (pass 0) ran, by package.

A pass ends when its "pass N:" line reaches standard output; the cold pass
starts when the operation thread starts (or after the last set-up line).
--keep DIR keeps the recording and the class-load log there.
"""
import argparse
import datetime
import importlib.util
import os
import re
import shutil
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OP_THREAD = "perfbench-op"
BUCKETS = ("class-load", "codegen", "closure-cleaner", "catalyst", "job-wait", "other")
RULES = [
    ("class-load", re.compile(
        r"^(java\.lang\.(ClassLoader|Class)|jdk\.internal\.loader\.\S+"
        r"|java\.net\.URLClassLoader|java\.security\.SecureClassLoader)"
        r"\.(loadClass|findClass|defineClass|forName)")),
    ("codegen", re.compile(
        r"^(org\.codehaus\.|org\.apache\.spark\.sql\.catalyst\.expressions\.codegen\.)")),
    ("closure-cleaner", re.compile(
        r"^org\.apache\.spark\.util\.(Spark)?ClosureCleaner|^org\.apache\.spark\.util\.IndylambdaScalaClosures")),
    ("catalyst", re.compile(r"^org\.apache\.spark\.sql\.")),
    ("job-wait", re.compile(
        r"^org\.apache\.spark\.(SparkContext\.runJob|scheduler\.(DAGScheduler|JobWaiter))")),
]
SQL = re.compile(r"^org\.apache\.spark\.sql\.")


def load_run():
    """perfbench/run.py as a module, unedited."""
    spec = importlib.util.spec_from_file_location("perfbench_run", ROOT / "perfbench" / "run.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class StampedSubprocess:
    """Stands in for the `subprocess` module inside run.py's JVM launcher:
    the JVM's standard output reaches the launcher line by line as before,
    and the arrival time of each line is kept."""
    PIPE = subprocess.PIPE

    def __init__(self):
        self.lines = []  # (epoch ns, line)

    def Popen(self, *args, **kwargs):
        proc = subprocess.Popen(*args, **kwargs)
        proc.stdout = self._stamp(proc.stdout)
        return proc

    def _stamp(self, stream):
        for line in stream:
            self.lines.append((time.time_ns(), line))
            yield line


def jfr_time(text, since):
    """A `jfr print` time -> epoch ns. `jfr print` writes local time,
    '12:51:22.123', and appends ' (2026-10-18)' only for another day than
    its own; an undated time is taken as the first such instant after
    `since` (the run's start, epoch ns) less an hour."""
    m = re.match(r"(\d+):(\d+):(\d+)(?:\.(\d+))?(?: \((\d+)-(\d+)-(\d+)\))?", text.strip())
    h, mi, s, frac, y, mo, d = m.groups()
    frac_ns = int(((frac or "0") + "000000000")[:9])
    if y:
        day = datetime.datetime(int(y), int(mo), int(d))
    else:
        day = datetime.datetime.fromtimestamp(since / 1e9 - 3600).replace(
            hour=0, minute=0, second=0, microsecond=0)
    t = day.replace(hour=int(h), minute=int(mi), second=int(s)).timestamp()
    if not y and t * 1e9 < since - 3600e9:
        t += 86400
    return int(t * 1e9) + frac_ns


def jfr_events(jfr, names):
    """Yields (event name, {field: text}, [frame, ...]) from `jfr print`."""
    cmd = ["jfr", "print", "--stack-depth", "256", "--events", ",".join(names), str(jfr)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    name, fields, frames, in_stack = None, {}, [], False
    for raw in proc.stdout:
        line = raw.strip()
        if name is None:
            if line.endswith("{") and line[:-1].strip() in names:
                name, fields, frames, in_stack = line[:-1].strip(), {}, [], False
        elif in_stack:
            if line == "]":
                in_stack = False
            elif line and line != "...":
                frames.append(line)
        elif line == "}":
            yield name, fields, frames
            name = None
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif " = " in line:
            k, _, v = line.partition(" = ")
            fields[k] = v
    proc.wait()


def thread_name(field):
    m = re.match(r'"(.*)" \(', field or "")
    return m.group(1) if m else field


def bucket(frames):
    for f in frames:
        for name, rule in RULES:
            if rule.match(f):
                return name
    return "other"


def pass_windows(lines, op_start):
    """[(pass label, start ns, end ns)] from the stamped stdout lines."""
    out, start = [], op_start
    setup_end = max((t for t, l in lines if l.startswith("setup")), default=None)
    if setup_end is not None:
        start = max(start or setup_end, setup_end)
    for t, l in lines:
        m = re.match(r"pass (\d+)", l)
        if m:
            out.append((f"pass {m.group(1)}{' (traced)' if '(traced)' in l else ''}",
                        start if start is not None else t, t))
            start = t
    return out


def class_loads(log):
    """(epoch ns, class name) per line of a -Xlog:class+load timemillis log."""
    rx = re.compile(r"^\[(\d+)ms\] (\S+) source:")
    for line in open(log, errors="replace"):
        m = rx.match(line)
        if m:
            yield int(m.group(1)) * 1000000, m.group(2)


def package_of(cls):
    if cls.startswith("org.apache.spark.sql.catalyst."):
        return "org.apache.spark.sql.catalyst"
    if cls.startswith("org.apache.spark.sql.execution."):
        return "org.apache.spark.sql.execution"
    if cls.startswith("org.apache.spark.sql."):
        return "org.apache.spark.sql (other)"
    if cls.startswith("org.codehaus."):
        return "org.codehaus (Janino)"
    return ".".join(cls.split(".")[:3]) if cls.count(".") >= 3 else cls.rsplit(".", 1)[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--keep", type=Path)
    a = ap.parse_args()
    run = load_run()
    cp = run.build()
    work = run.BENCH / ".work" / f"jfr-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    jfr, loads = work / "rec.jfr", work / "classload.log"
    stamped = StampedSubprocess()
    began = time.time_ns()
    run.subprocess = stamped
    # only the benchmark's JVM gets these: `jfr print` is a JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:StartFlightRecording=filename={jfr},settings=profile,dumponexit=true "
        "-XX:FlightRecorderOptions:stackdepth=256 "
        f"-Xlog:class+load=info:file={loads}:timemillis:filecount=0")
    try:
        try:
            rc, out = run.run_jvm(cp, [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", "0",
                "--work", str(work), "--data", str(run.BENCH / "data")], work)
        finally:
            del os.environ["JAVA_TOOL_OPTIONS"]
        if rc != 0 or not jfr.exists():
            sys.exit(f"jfr_ops: benchmark process exited with {rc}")
        for line in out:
            if line.startswith("pass "):
                print(line)

        op_start, samples = None, []
        for name, f, frames in jfr_events(jfr, ["jdk.ThreadStart", "jdk.ExecutionSample"]):
            if name == "jdk.ThreadStart":
                if thread_name(f.get("thread")) == OP_THREAD and op_start is None:
                    op_start = jfr_time(f["startTime"], began)
            elif thread_name(f.get("sampledThread")) == OP_THREAD:
                samples.append((jfr_time(f["startTime"], began), bucket(frames),
                                any(SQL.match(x) for x in frames)))
        windows = pass_windows(stamped.lines, op_start)
        print(f"{a.workload} seed {a.seed}: {OP_THREAD} execution samples per pass")
        print(f"  {'pass':<18}" + "".join(f"{b:>16}" for b in BUCKETS) + f"{'total':>8}{'sql frame':>11}")
        for label, t0, t1 in windows:
            got = [s for s in samples if t0 <= s[0] < t1]
            c = Counter(s[1] for s in got)
            print(f"  {label:<18}" + "".join(f"{c[b]:>16}" for b in BUCKETS)
                  + f"{len(got):>8}{sum(s[2] for s in got):>11}")
        if windows:
            label, t0, t1 = windows[0]
            cold = Counter(package_of(c) for t, c in class_loads(loads) if t0 <= t < t1)
            print(f"classes loaded during {label}: {sum(cold.values())}")
            for pkg, n in cold.most_common(25):
                print(f"  {n:>6}  {pkg}")
    finally:
        if a.keep:
            a.keep.mkdir(parents=True, exist_ok=True)
            for f in (jfr, loads):
                if f.exists():
                    shutil.copy(f, a.keep / f.name)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
