#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Usage, from the root of a checkout:

    python3 pipebench/run.py --workload <vehicle_drain|tenant_live> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt when either has
changed since the last build, then runs one workload in one JVM and prints
its JSON result as the last line of standard output. Everything the run
writes goes under pipebench/out/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("vehicle_drain", "tenant_live")

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the same list the program's build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change calls for a rebuild, relative to ROOT."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


def classpath():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    digest = hashlib.sha256()
    for rel in build_inputs():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    with open(os.path.join(OUT, "build.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed; see {os.path.join(OUT, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = classpath()
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", OUT]
    log_path = os.path.join(OUT, f"{a.workload}.trace{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=OUT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded 170 s; see {log_path}")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}; see {log_path}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the run printed no result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
