#!/usr/bin/env python3
"""Run one benchmark workload against the checkout in the current directory.

    python3 perfbench/run.py --workload fx_batch --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark program (perfbench/build.sbt)
when the sources changed since the last build, then starts one JVM for the
workload. The last line on stdout is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exit status is 0 only when the run completed and every check passed.

Everything the run writes stays under perfbench/.work/ in the checkout.
Workload and metric definitions: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("fx_batch", "fx_stream")
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit: the module openings the engine's
# own build passes to every forked JVM.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed file forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in the current directory; "
             "run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation")
    stamp = source_stamp()
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "sbt.log")
    # -XX:-UsePerfData: no JVM perf-data file outside the checkout
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=lf,
                               stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        tail = "\n".join(r.stdout.splitlines()[-20:])
        fail(f"build failed (exit {r.returncode}, log: {log}):\n{tail}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="write the batch reference checksums to this file")
    p.add_argument("--data", help="batch tables to record against (default: generated)")
    a = p.parse_args()

    cp = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.data:
        cmd += ["--data", os.path.abspath(a.data)]
    log = os.path.join(WORK, "logs", f"{a.workload}_{a.seed}_{a.trace}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{a.workload} did not finish in {JVM_TIMEOUT_S} s (log: {log})", 3)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{a.workload} exited {proc.returncode} without a result; log tail:\n{tail}", 4)
    if not result["correct"]:
        with open(os.path.join(WORK, "reports",
                               f"{a.workload}_seed{a.seed}_trace{a.trace}.json")) as f:
            print("perfbench: failed checks: " + json.dumps(json.load(f)["failures"][:20]),
                  file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
