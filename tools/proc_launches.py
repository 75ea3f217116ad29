#!/usr/bin/env python3
"""Count the child processes one pipebench workload launches, and where.

Usage, from the root of a checkout:

    python3 tools/proc_launches.py --workload <vehicle_drain|tenant_live> \
        [--seed 1] [--seconds 10] [--trace 0]

Builds the benchmark first, exactly as pipebench/run.py would (so the sbt
JVM is not recorded), then runs pipebench/run.py once with a Java Flight
Recorder recording of `jdk.ProcessStart` events, switched on through
JAVA_TOOL_OPTIONS. The recording goes to a temporary directory; no
benchmark file is edited, and the run writes only its usual pipebench/out/.
It prints the launches by program, by the class
of the path they act on (bus, checkpoint, dead-letter, spool, other) and,
per class, by run directory (`pass-NNN` / `stream-NNN` under
pipebench/out/work), so a warm pass and a timed one can be told apart.

Hadoop's local FileSystem runs `chmod` / `readlink` as child processes when
libhadoop is not loaded; this is the tool that shows which writes still do.
"""
import argparse
import collections
import json
import os
import subprocess
import sys
import tempfile

import pipebench_runner

CLASSES = ("bus", "checkpoint", "dead-letter", "spool", "other")

# Only the one event is recorded: the run is not slowed by the rest of a
# default profile.
JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="proc-launches">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def path_class(command):
    """The class of the first path the command names (`/a/b` or `file:/a/b`)."""
    for tok in command.split():
        if "/" not in tok:
            continue
        parts = tok.split("/")
        if "dead-letter" in parts:
            return "dead-letter"
        if "checkpoint" in parts:
            return "checkpoint"
        if "bus" in parts:
            return "bus"
        if "spool" in parts or "cmf" in parts:
            return "spool"
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("vehicle_drain", "tenant_live"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    pipebench_runner.build()  # without the recording

    with tempfile.TemporaryDirectory(prefix="proc-launches-") as tmp:
        jfc = os.path.join(tmp, "launches.jfc")
        with open(jfc, "w") as f:
            f.write(JFC)
        rec = os.path.join(tmp, "run.jfr")
        result = pipebench_runner.run(
            "proc_launches",
            f"-XX:StartFlightRecording=filename={rec},settings={jfc},dumponexit=true",
            a.workload, a.seed, a.seconds, a.trace)
        if not os.path.isfile(rec):
            sys.exit("proc_launches: the run left no recording")
        # the jfr tool is itself a JVM: with the recording flag still in
        # JAVA_TOOL_OPTIONS it would start a recording over the same file
        jfr_env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
        printed = subprocess.run(
            [pipebench_runner.jdk_tool("jfr"), "print", "--json", "--events", "jdk.ProcessStart", rec],
            env=jfr_env, stdout=subprocess.PIPE, check=True, text=True)
    events = json.loads(printed.stdout)["recording"]["events"]
    commands = [e["values"]["command"] for e in events]

    by_prog = collections.Counter()
    by_class = collections.Counter()
    by_dir = collections.defaultdict(collections.Counter)
    for c in commands:
        cls = path_class(c)
        prog = os.path.basename(c.split()[0]) if c else ""
        by_prog[prog] += 1
        by_class[(cls, prog)] += 1
        by_dir[cls][pipebench_runner.run_dir(c)] += 1

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    print(f"records: {result['attempted']} attempted, {result['failed']} failed; "
          + ", ".join(f"{k} {v['value']}" for k, v in sorted(result["metrics"].items())
                      if k in ("cpu_ms_per_record", "setup_s")))
    print(f"process launches: {len(commands)}")
    print("\nby program:")
    for prog, n in by_prog.most_common():
        print(f"  {n:7d}  {prog}")
    print("\nby path class:")
    for cls in CLASSES:
        progs = {p: n for (c, p), n in by_class.items() if c == cls}
        total = sum(progs.values())
        detail = ", ".join(f"{p} {n}" for p, n in sorted(progs.items(), key=lambda kv: -kv[1]))
        print(f"  {cls:12s} {total:7d}" + (f"  ({detail})" if detail else ""))
    print("\nby path class and run directory:")
    for cls in CLASSES:
        for d, n in sorted(by_dir[cls].items()):
            print(f"  {cls:12s} {d:12s} {n:7d}")


if __name__ == "__main__":
    main()
