#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (the
sbt project in perfbench/, which compiles ../src/main with it, offline,
against the jars of the Spark install at SPARK_HOME) and caches the
classpath under perfbench/.build/; later runs start the JVM directly.
Each run gets its own scratch directory under perfbench/.work/, removed
at exit. Traced runs also write their spans to perfbench/.traces/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the harness once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    # `export` prints the classpath as a bare line (no "[info]" prefix)
    lines = [l for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("harness build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    results = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(err[-6000:])
        die(f"benchmark JVM failed (exit {proc.returncode})")
    return json.loads(results[-1][len("GRAFTBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(SPEC):
        die("BENCHMARK.json not found next to perfbench/")
    with open(SPEC) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the graft sources (src/main/scala/graft) are not in this checkout")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    trace_out = os.path.join(BENCH, ".traces", f"{tag}.jsonl")
    t0 = time.time()
    try:
        res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work", work,
                           "--pins", os.path.join(BENCH, "pins.txt"),
                           "--trace-out", trace_out], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(got) != sorted(names):
        die(f"metrics {sorted(got)} do not match BENCHMARK.json {sorted(names)}")
    for m in wanted:
        if got[m["name"]]["unit"] != m["unit"]:
            die(f"unit of {m['name']} is {got[m['name']]['unit']}, BENCHMARK.json says {m['unit']}")
    metrics = {m["name"]: got[m["name"]] for m in wanted}
    summary = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"# {tag}: {res['samples']} timed samples, run {time.time() - t0:.1f} s; {summary}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
