"""One pipebench run with extra JVM flags, shared by the tools that watch a
workload from outside the benchmark (codegen_compiles.py, proc_launches.py,
expr_profile.py).

`build()` loads pipebench/run.py as a module and builds the benchmark with
it, so the sbt JVM runs without the caller's flags. `run()` then runs
pipebench/run.py once with one more flag in JAVA_TOOL_OPTIONS and returns
the JSON line it prints last. No benchmark file is edited. `jdk_tool()`
finds a JDK tool such as `jfr` for reading a recording.
"""
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_PY = os.path.join(ROOT, "pipebench", "run.py")
RUN_DIR = re.compile(r"/((?:pass|stream)-\d+)/")


def build():
    """pipebench/run.py as a module, after it has built the benchmark;
    pipebench/out/tmp exists."""
    spec = importlib.util.spec_from_file_location("pipebench_run", RUN_PY)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    os.makedirs(os.path.join(run.OUT, "tmp"), exist_ok=True)
    run.classpath()
    return run


def run(tool, flag, workload, seed, seconds, trace="0"):
    """The parsed last stdout line of one pipebench/run.py run with `flag`
    appended to JAVA_TOOL_OPTIONS; exits, naming `tool`, if the run fails."""
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + flag).strip()
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{tool}: pipebench/run.py exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def jdk_tool(name):
    """The JDK tool `name` (e.g. `jfr`) next to the `java` on PATH."""
    java = shutil.which("java")
    if java is None:
        sys.exit("no java on PATH")
    tool = os.path.join(os.path.dirname(os.path.realpath(java)), name)
    if not os.path.isfile(tool):
        sys.exit(f"no `{name}` next to {os.path.realpath(java)}")
    return tool


def run_dir(text):
    """The run directory (`pass-NNN` / `stream-NNN` under pipebench/out/work)
    a path in `text` lies under, or "-"."""
    m = RUN_DIR.search(text)
    return m.group(1) if m else "-"
