#!/usr/bin/env python3
"""Serving-path benchmark for graft: builds the harness (and graft) from
the sources of this checkout, then runs one workload in one JVM.

    python3 servebench/run.py --workload ingest|dashboard|mixed \
        --seed N --seconds S --trace 0|1
    python3 servebench/run.py --selfcheck

Run from the root of the checkout. The last line of standard output is
the result JSON; the line before it (REPORT ...) holds every metric
with its unit and sample count, the run's context and each failure.
The build and all scratch files live under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "dashboard", "mixed")

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every build input, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if not os.path.isfile(p):
            raise SystemExit(f"missing build input {os.path.relpath(p, ROOT)}")
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt (offline, from source);
    return the runtime classpath. Cached by source digest."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("servebench: building graft and the harness with sbt ...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=880)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(proc.stdout[-4000:])
        raise SystemExit("servebench: build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "tree-" + source_digest()[:16]


def run_jvm(classpath, main, args, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"servebench: {main} timed out after {timeout} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true", help="tiny-size check of the harness itself")
    a = ap.parse_args()
    classpath = build()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)  # leftovers of an interrupted run
    os.makedirs(work, exist_ok=True)
    if a.selfcheck:
        code, out = run_jvm(classpath, "graftbench.SelfCheck", ["--workdir", work], 600)
        sys.stdout.write(out)
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workdir", work, "--commit", git_commit()]
    code, out = run_jvm(classpath, "graftbench.Bench", args, 170)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"servebench: no result (exit {code})")
    print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
