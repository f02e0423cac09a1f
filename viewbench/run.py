#!/usr/bin/env python3
"""graft view-engine benchmark: one command, one workload, one JSON line.

    python3 viewbench/run.py --workload view_serve --seed 1 --seconds 10 --trace 0

Builds graft (src/main/scala) and the benchmark harness (viewbench/src)
from source with the Scala compiler that ships in Spark's jar directory,
then runs the workload in one JVM with one closed-loop client. Inputs are
generated from --seed. Every index, checkpoint, staging file and Spark
scratch directory lives under a fresh per-run directory in
viewbench/.work/, deleted at the start and the end of the run. The full
result (config, seeds, samples, failures, spans) goes to a new file in
viewbench/results/; the last line on stdout is the summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones; each takes its unit from there, and a
metric the JVM reports that BENCHMARK.json does not list (or the other
way round) fails the run.
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
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("view_serve", "temp_view", "view_maintain", "index_serve")
DRIVER_HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the same opens as the
# library's own build (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"viewbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH")
    return found


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return os.path.join(h, "jars")
    fail("Spark jars not found (set SPARK_HOME)")


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(kind, key, sources, classpath, jars):
    """Compiles `sources` into .build/<kind>-<key> unless it is there."""
    out = os.path.join(BUILD, f"{kind}-{key[:16]}")
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith(kind + "-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{kind}.sources")
    with open(argfile, "w") as f:
        f.write("".join(f'"{s}"\n' for s in sources))
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    t = time.time()
    print(f"viewbench: compiling {kind} ({len(sources)} files)", file=sys.stderr)
    r = subprocess.run([java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
                        "-d", tmp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {kind} failed")
    os.rename(tmp, out)
    print(f"viewbench: compiled {kind} in {time.time() - t:.1f} s", file=sys.stderr)
    return out


def build(jars):
    graft_src = scala_sources(GRAFT_SRC) if os.path.isdir(GRAFT_SRC) else []
    if not graft_src:
        fail("graft sources (src/main/scala) not found next to viewbench/")
    bench_src = scala_sources(BENCH_SRC)
    jar_cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                             if j.endswith(".jar"))
    graft_key = digest(graft_src)
    graft = compile_into("graft", graft_key, graft_src, jar_cp, jars)
    bench = compile_into("bench", digest(bench_src, graft_key), bench_src,
                         graft + os.pathsep + jar_cp, jars)
    return graft, bench, graft_key


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def local_n():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_timeout_s(seconds, trace):
    """Limit on the benchmark JVM: its fixed cost (session, inputs, builds,
    checks: 45-70 s) with room to spare, plus the timed loops with half
    again on top; a traced run times twice the seconds."""
    return max(170, 90 + 1.5 * (2 if trace else 1) * seconds)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="perturb every expected result (the check must fail)")
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    jars = spark_jars()
    graft, bench, graft_key = build(jars)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(WORK, ignore_errors=True)  # also what a killed run left
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, run_id + ".json")

    cmd = [java_bin(), f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench, graft, os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out, "--scale", a.scale, "--cpus", str(local_n()),
            "--corrupt", "1" if a.corrupt_reference else "0",
            "--commit", git_commit(), "--source-sha", graft_key,
            "--layers", ",".join(m["name"] for m in spec["per_layer"])]
    started = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    timeout = run_timeout_s(a.seconds, a.trace)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {timeout:.0f} s")
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {code}")
    print(f"viewbench: {a.workload} ran {time.time() - started:.1f} s, result {out}",
          file=sys.stderr)
    with open(out) as f:
        res = json.load(f)
    got = res["metrics"]
    if set(got) != set(units):
        fail(f"metrics do not match BENCHMARK.json: missing {sorted(set(units) - set(got))}, "
             f"not listed {sorted(set(got) - set(units))}")
    metrics = {k: {"value": got[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
