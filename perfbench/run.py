#!/usr/bin/env python3
"""Run one benchmark workload against the program in the enclosing checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(or whenever a source file changed), then runs one JVM that drives the
workload. Everything the run writes stays inside the checkout: build
output under ``target/`` directories, inputs and traces under
``perfbench/work/``. The last line of standard output is the result
object; a run that cannot build or whose program fails prints no result
and exits non-zero.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("scene_ingest", "scene_tiles", "text_dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions); the program's own build passes the same list.
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


def source_files():
    """Every file the build reads, as (relative path, size, mtime)."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    singles = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            for f in fs:
                singles.append(os.path.join(d, f))
    for p in sorted(singles):
        st = os.stat(p)
        out.append((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    return out


def stamp():
    return hashlib.sha256(repr(source_files()).encode()).hexdigest()


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def ensure_built():
    """Returns the run classpath, building first if any source changed."""
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    print("[perfbench] building the program and the benchmark", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=HERE, env=build_env(), stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp() + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE} (build.sbt, src/main/scala)")
    cp = ensure_built()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # C1 only: a run lives under a minute, never reaches C2's steady state,
    # and C2's compile threads would compete with the 4 task threads
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK]
    env = dict(os.environ)
    # the session's own spark.local.dir (inside the checkout) must win
    env.pop("SPARK_LOCAL_DIRS", None)

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    body = lines[:-1] if result is not None else lines
    for l in body:
        print(l)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"program exited {proc.returncode} without a result")
    print(lines[-1])
    sys.stdout.flush()


if __name__ == "__main__":
    main()
