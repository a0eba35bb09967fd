#!/usr/bin/env python3
"""Benchmark of graft's streaming path (see graftbench/README.md).

Run from the repository root:

    python3 graftbench/run.py --workload stream_fleet --seed 1 --seconds 30 --trace 0
    python3 graftbench/run.py --self-test

The first run builds graft and the harness with sbt; later runs start
the JVM directly. The last line of standard output is the run's result
as one JSON object.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")
DEADLINE_S = 175
HEAP = "4g"

# The module flags Spark needs on JDK 17 outside spark-submit; the root
# build passes the same set to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(args, log, timeout):
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false"] + args,
                           cwd=HERE, env=sbt_env(), stdout=out,
                           stderr=subprocess.STDOUT, timeout=timeout)
    return r.returncode


def build():
    """Compile graft and the harness once per source tree; return the
    runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    log = os.path.join(WORK, "build.log")
    if sbt(["writeClasspath"], log, 850) != 0:
        die(f"build failed, see {log}")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip(), digest


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.exists(PROGRAM):
        die(f"the program's sources are missing ({os.path.relpath(PROGRAM, ROOT)})")
    if a.self_test:
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "selftest.log")
        code = sbt(["test"], log, 850)
        with open(log) as f:
            tail = [l for l in f if "Tests:" in l or "FAILED" in l or "passed" in l]
        print("".join(tail[-5:]), end="")
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        die("--workload, --seed and --seconds are required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        if a.workload not in json.load(f):
            die(f"unknown workload {a.workload}")

    classpath, digest = build()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    runs = os.path.join(WORK, "runs")
    logs = os.path.join(WORK, "logs")
    tmp = os.path.join(WORK, "tmp")
    for d in (runs, logs, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(runs, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--config", os.path.join(HERE, "workloads.json"),
            "--out", out, "--work-dir", os.path.join(WORK, "work"), "--cpus", cpus,
            "--stamp.nproc", cpus, "--stamp.heap", HEAP, "--stamp.src_sha256", digest]
    sha = git_sha()
    if sha:
        args += ["--stamp.git", sha]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.StreamBench"] + [str(x) for x in args]

    log = os.path.join(logs, tag + ".log")
    budget = max(10, DEADLINE_S - (time.monotonic() - started))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {DEADLINE_S}s, see {log}")
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"harness failed (exit {proc.returncode}), see {log}")
    with open(out) as f:
        rec = json.load(f)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": rec["metrics"].get(m["name"]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"stamps": rec["stamps"], "info": rec["info"]}))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
