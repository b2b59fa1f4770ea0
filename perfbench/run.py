#!/usr/bin/env python3
"""Benchmark entry point: builds the engine with the benchmark main, then
runs one workload in a fresh JVM and prints its result as the last line
of standard output.

    python3 perfbench/run.py --workload {ingest,serve,batch} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root. The build (sbt, offline) happens on the
first run and again only when a Scala source changes; later runs start
the JVM directly from the recorded classpath. Working files live under
.perfbench_work/ in the current directory and are removed at the end,
except the span files of traced runs (.perfbench_work/traces/). The
fixture tables are read from ~/testdata (override with GRAFT_TESTDATA).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source the build reads, to skip unchanged builds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1].strip()}, f)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the smoke-test scale (sf0.001, a few dozen files)")
    ap.add_argument("--record-expected", default=None,
                    help="batch only: write observed row counts and hashes here")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the repository root")
    if not os.path.isdir(TESTDATA):
        fail(f"fixture directory {TESTDATA} not found (set GRAFT_TESTDATA)")
    cp = build()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--work", run_dir, "--testdata", TESTDATA,
            "--bench-dir", BENCH]
    if a.record_expected:
        cmd += ["--record-expected", os.path.abspath(a.record_expected)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    for l in lines:
        if l.startswith('{"correct"'):
            result = l
        else:
            print(l, file=sys.stderr)
    if result is None:
        fail(f"no result line (JVM exit {proc.returncode})")
    print(result)
    sys.exit(0 if proc.returncode == 0 and json.loads(result)["correct"] else 1)


if __name__ == "__main__":
    main()
