#!/usr/bin/env python3
"""Where one pipebench workload's timed passes spend their CPU samples: per
expression evaluator and per driver thread.

Usage, from the root of a checkout:

    python3 tools/expr_profile.py --workload <vehicle_drain|tenant_live> \
        [--seed 1] [--seconds 10] [--trace 0] [--top 25]

Builds the benchmark first, exactly as pipebench/run.py would (so the sbt
JVM is not recorded), then runs pipebench/run.py once with a Java Flight
Recorder recording of execution samples (every 10 ms, stacks 64 frames
deep) and thread starts and ends, switched on through JAVA_TOOL_OPTIONS.
The recording goes to a temporary directory; no benchmark file is edited,
and the run writes only its usual pipebench/out/.

Each pass starts its streaming queries on their own "stream execution
thread"s. Overlapping lifetimes of those threads make one window per pass;
the first window is the untimed warm pass (or stream) and is left out, and
only samples inside the other windows are counted. A sample is charged to:
  - on an executor task thread, its expression evaluator: the innermost
    frame of generated code or of a Catalyst or graft expression class
    (not the code generator's own classes, and not the Unsafe* row
    classes generated code reads through), with the method the sample
    landed in (its top frame), or "(no expression)" with the top frame's
    class when no such frame is on the stack; samples on other threads
    are "(not a task)";
  - its thread, with task and query ids stripped from the name.
Shares are of the windowed samples. The tool gates nothing; JFR samples
only threads running Java code, so time in native code and in the JIT is
not seen.
"""
import argparse
import collections
import os
import re
import subprocess
import sys
import tempfile

import pipebench_runner

JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="expr-profile">
  <event name="jdk.ExecutionSample">
    <setting name="enabled">true</setting>
    <setting name="period">10 ms</setting>
  </event>
  <event name="jdk.ThreadStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
  <event name="jdk.ThreadEnd">
    <setting name="enabled">true</setting>
  </event>
</configuration>
"""

STREAM_THREAD = "stream execution thread for"
EXPR_PACKAGES = ("org.apache.spark.sql.catalyst.expressions.", "graft.functions.")
NOT_EVALUATORS = re.compile(r"\.codegen\.|\.Unsafe\w*\.")
GENERATED = re.compile(r"GeneratedClass\$(\w+)")
THREAD_IDS = [
    (re.compile(r"^stream execution thread for .*"), "stream execution thread"),
    (re.compile(r"^Executor task launch worker.*"), "executor task"),
    (re.compile(r"\s*\(TID \d+\)"), ""),
    (re.compile(r"-\d+$"), "-N"),
    (re.compile(r"\d+"), "N"),
]
FIELD = re.compile(r'^\s*(startTime|sampledThread|thread) = (.*)$')
FRAME = re.compile(r"^\s+([\w$.<>]+)\(.*\)")
THREAD_NAME = re.compile(r'^"(.*)" \(javaThreadId = (\d+)\)')
TIME = re.compile(r"^(\d\d):(\d\d):(\d\d)\.(\d{3})")


def parse_time(text):
    """Seconds since midnight of `jfr print`'s HH:MM:SS.mmm (a run that
    crosses midnight is not windowed correctly)."""
    m = TIME.match(text)
    if not m:
        return None
    h, mi, s, ms = (int(g) for g in m.groups())
    return h * 3600 + mi * 60 + s + ms / 1000.0


def events(jfr, rec):
    """(event type, start seconds, thread name, thread id, frames) per event,
    streamed from `jfr print` so the recording never sits in memory whole."""
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    proc = subprocess.Popen(
        [jfr, "print", "--stack-depth", "64", "--events",
         "jdk.ExecutionSample,jdk.ThreadStart,jdk.ThreadEnd", rec],
        env=env, stdout=subprocess.PIPE, text=True)
    kind, start, name, tid, frames = None, None, None, None, []
    for line in proc.stdout:
        if line.startswith("jdk."):
            kind, start, name, tid, frames = line.split()[0], None, None, None, []
        elif line.startswith("}"):
            if kind:
                yield kind, start, name, tid, frames
            kind = None
        elif kind:
            m = FIELD.match(line)
            if m:
                if m.group(1) == "startTime":
                    start = parse_time(m.group(2))
                else:
                    t = THREAD_NAME.match(m.group(2))
                    if t:
                        name, tid = t.group(1), t.group(2)
                continue
            f = FRAME.match(line)
            if f:
                frames.append(f.group(1))
    if proc.wait() != 0:
        sys.exit(f"expr_profile: jfr print exited {proc.returncode}")


def windows(starts, ends):
    """Merged [start, end] lifetimes of the stream execution threads."""
    spans = sorted((s, ends.get(t, float("inf"))) for t, s in starts.items())
    merged = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return merged


def short(frame):
    """`pkg.Class$Inner.method` as `Class$Inner.method`."""
    cls, _, method = frame.rpartition(".")
    return f"{cls.rpartition('.')[2]}.{method}"


def evaluator(frames):
    for f in frames:
        g = GENERATED.search(f)
        if g:
            return f"generated {g.group(1)}.{f.rpartition('.')[2]}"
        if f.startswith(EXPR_PACKAGES) and not NOT_EVALUATORS.search(f):
            return short(f)
    return "(no expression)"


def thread_group(name):
    for pat, rep in THREAD_IDS:
        if pat.search(name):
            name = pat.sub(rep, name)
    return name


def table(title, counter, total, top):
    print(f"\n{title}:")
    for key, n in counter.most_common(top):
        print(f"  {100.0 * n / total:6.1f}%  {n:6d}  {key}")
    rest = sum(n for _, n in counter.most_common()[top:])
    if rest:
        print(f"  {100.0 * rest / total:6.1f}%  {rest:6d}  (other)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("vehicle_drain", "tenant_live"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args()

    pipebench_runner.build()  # without the recording

    samples = []
    starts, ends = {}, {}
    with tempfile.TemporaryDirectory(prefix="expr-profile-") as tmp:
        jfc = os.path.join(tmp, "samples.jfc")
        with open(jfc, "w") as f:
            f.write(JFC)
        rec = os.path.join(tmp, "run.jfr")
        result = pipebench_runner.run(
            "expr_profile",
            f"-XX:StartFlightRecording=filename={rec},settings={jfc},dumponexit=true",
            a.workload, a.seed, a.seconds, a.trace)
        if not os.path.isfile(rec):
            sys.exit("expr_profile: the run left no recording")
        for kind, start, name, tid, frames in events(pipebench_runner.jdk_tool("jfr"), rec):
            if kind == "jdk.ExecutionSample":
                samples.append((start, name or "?", frames))
            elif name and name.startswith(STREAM_THREAD):
                (starts if kind == "jdk.ThreadStart" else ends)[tid] = start

    passes = windows(starts, ends)
    if len(passes) < 2:
        sys.exit(f"expr_profile: {len(passes)} stream-thread windows, expected a warm one and timed ones")
    timed = passes[1:]
    per_pass = [0] * len(timed)
    by_expr = collections.Counter()
    by_leaf = collections.Counter()
    by_thread = collections.Counter()
    for start, name, frames in samples:
        i = next((i for i, (s, e) in enumerate(timed) if start is not None and s <= start <= e), None)
        if i is None or not frames:
            continue
        per_pass[i] += 1
        ev = evaluator(frames) if name.startswith("Executor task") else "(not a task)"
        by_expr[ev if ev != "(no expression)" else f"{ev} {short(frames[0]).rpartition('.')[0]}"] += 1
        by_leaf[f"{ev}  <-  {short(frames[0])}"] += 1
        by_thread[thread_group(name)] += 1
    total = sum(per_pass)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    print(f"records: {result['attempted']} attempted, {result['failed']} failed; "
          + ", ".join(f"{k} {v['value']}" for k, v in sorted(result["metrics"].items())
                      if k in ("cpu_ms_per_record", "setup_s")))
    print(f"stream-thread windows: {len(passes)} (first is the warm one); "
          f"samples in the timed ones: {total} ("
          + ", ".join(f"{n} in {e - s:.1f} s" for n, (s, e) in zip(per_pass, timed)) + ")")
    if not total:
        return
    table("by expression evaluator", by_expr, total, a.top)
    table("by expression evaluator and the method sampled", by_leaf, total, a.top)
    table("by thread", by_thread, total, a.top)


if __name__ == "__main__":
    main()
