#!/usr/bin/env python3
"""Count the Janino compilations one pipebench workload makes, per query start.

Usage, from the root of a checkout:

    python3 tools/codegen_compiles.py --workload <vehicle_drain|tenant_live> \
        [--seed 1] [--seconds 10]

Builds the benchmark first, exactly as pipebench/run.py would (so the sbt
JVM is not configured), then runs pipebench/run.py once, untraced, with a
log4j2 configuration given through JAVA_TOOL_OPTIONS that logs Spark's
CodeGenerator ("Code generated in N ms", one line per compiled class) and
MicroBatchExecution (query start and stop, with the checkpoint path) at
INFO to standard error, which run.py keeps in
pipebench/out/<workload>.trace0.log. The configuration goes to a temporary
directory under pipebench/out/tmp; no benchmark file is edited. The tool
gates nothing.

Each compile is charged to a query start, named by its run directory
(`pass-NNN` / `stream-NNN` under pipebench/out/work) and the last
component of its checkpoint path:
  - a compile on a query's stream execution thread (driver-side planning
    and whole-stage code) goes to that query;
  - a compile on any other thread (executor tasks) goes to the run
    directory whose queries were running at the time, as `tasks`;
  - one made while no query runs (set-up, output checks) goes to
    `outside queries`.
A traced run is not offered: pipebench's own codegen counter detaches the
CodeGenerator logger from every appender but its own.
"""
import argparse
import collections
import os
import re
import tempfile

import pipebench_runner

LOG4J2 = """rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss.SSS} [%t] %p %c{1}: %m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = info
logger.microbatch.name = org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
logger.microbatch.level = info
"""

LINE = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} \[(?P<thread>.*)\] \w+ (?P<logger>\S+): (?P<msg>.*)$")
RUN_ID = re.compile(r"runId = ([0-9a-f-]+)")
STARTING = re.compile(r"^Starting \[.*runId = ([0-9a-f-]+)\]\. Use (\S+) to store the query checkpoint")
STOPPED = re.compile(r"^Query \[.*runId = ([0-9a-f-]+)\] was stopped")
GENERATED = re.compile(r"^Code generated in ([0-9.]+) ms")


def query_name(checkpoint):
    """(run directory, query) for a checkpoint path."""
    return (pipebench_runner.run_dir(checkpoint), checkpoint.rstrip("/").rsplit("/", 1)[-1])


def attribute(lines):
    """{(run directory, query): [compiles, ms]} over the log's lines."""
    queries = {}  # runId -> (run directory, query)
    running = collections.Counter()  # run directory -> queries running
    charged = collections.defaultdict(lambda: [0, 0.0])
    for line in lines:
        m = LINE.match(line)
        if not m:
            continue
        msg = m.group("msg")
        if m.group("logger") == "MicroBatchExecution":
            if s := STARTING.match(msg):
                key = queries[s.group(1)] = query_name(s.group(2))
                running[key[0]] += 1
                # a start that compiles nothing is listed too
                charged[key], charged[(key[0], "tasks")]
            elif s := STOPPED.match(msg):
                if s.group(1) in queries:
                    running[queries[s.group(1)][0]] -= 1
            continue
        g = GENERATED.match(msg)
        if not g:
            continue
        thread = m.group("thread")
        r = RUN_ID.search(thread)
        if thread.startswith("stream execution thread") and r and r.group(1) in queries:
            key = queries[r.group(1)]
        else:
            active = [d for d, n in running.items() if n > 0]
            key = (active[-1], "tasks") if active else ("-", "outside queries")
        charged[key][0] += 1
        charged[key][1] += float(g.group(1))
    return charged


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("vehicle_drain", "tenant_live"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()

    run = pipebench_runner.build()  # without the logging configuration

    with tempfile.TemporaryDirectory(prefix="codegen-compiles-",
                                     dir=os.path.join(run.OUT, "tmp")) as tmp:
        cfg = os.path.join(tmp, "log4j2.properties")
        with open(cfg, "w") as f:
            f.write(LOG4J2)
        result = pipebench_runner.run("codegen_compiles", f"-Dlog4j2.configurationFile={cfg}",
                                      a.workload, a.seed, a.seconds)
    with open(os.path.join(run.OUT, f"{a.workload}.trace0.log"), errors="replace") as f:
        charged = attribute(f)

    print(f"workload {a.workload}  seed {a.seed}")
    print(f"records: {result['attempted']} attempted, {result['failed']} failed; "
          + ", ".join(f"{k} {v['value']}" for k, v in sorted(result["metrics"].items())))
    total = sum(n for n, _ in charged.values())
    print(f"Janino compiles: {total}, {sum(ms for _, ms in charged.values()):.0f} ms")
    print(f"\n  {'run dir':10s} {'query':16s} {'compiles':>8s} {'ms':>9s}")
    for (d, q), (n, ms) in sorted(charged.items(), key=lambda kv: (kv[0][0] == "-", kv[0])):
        print(f"  {d:10s} {q:16s} {n:8d} {ms:9.1f}")


if __name__ == "__main__":
    main()
