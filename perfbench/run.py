#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print its result as one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark code under perfbench/src with sbt,
offline; later runs reuse the classes while a digest of every source and
build file still matches. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; anything else the run
prints goes to standard error. A failed build or set-up exits non-zero
without printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# the repository's offline sbt settings, used unless the caller sets its own
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark distribution found: set SPARK_HOME (its jars/ holds Spark)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found: set JAVA_HOME or put java on PATH")
    return exe


def source_digest(jars):
    """Digest of every input of the build: sources, build files, the JDK
    and the Spark jar set. A stale build is rebuilt, never reused."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run([java_bin(), "-XX:-UsePerfData", "-version"],
                            capture_output=True).stderr)
    return h.hexdigest()


def build(jars):
    digest = source_digest(jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt is not on PATH; it is needed to build the engine", 3)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", SBT_OPTS)
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM of the build (the launcher's version probe too) keeps its
    # temp files in the build dir and writes no perf-data file to /tmp
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    if os.path.exists(STAMP):
        os.remove(STAMP)
    print("perfbench: building engine + benchmark (sbt compile)", file=sys.stderr)
    t0 = time.time()
    try:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.sparkJars={jars}", "compile"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"build timed out after {BUILD_TIMEOUT_S} s", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die(f"build failed (sbt exit {p.returncode})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run(args, jars, budget_s):
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    # temp files stay in the run's scratch dir; no perf-data file in /tmp
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java_bin(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--launch-us", str(time.time_ns() // 1000)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {budget_s:.0f} s and was stopped", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"benchmark JVM failed (exit {proc.returncode})", 5)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "live_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die(f"run from a full checkout: {ENGINE_SRC} and BENCHMARK.json are required")
    jars = spark_jars()
    build(jars)
    res = run(args, jars, RUN_TIMEOUT_S - (time.time() - t0)
              if time.time() - t0 < 60 else RUN_TIMEOUT_S)
    want = expected_metrics(args.trace == 1)
    missing = [m for m in want if m not in res.get("metrics", {})]
    if missing:
        die(f"result lacks metrics {missing}", 6)
    res["metrics"] = {k: res["metrics"][k] for k in want}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
