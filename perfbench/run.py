#!/usr/bin/env python3
"""Run one purldb-spark benchmark workload and print its result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload mine --seed 1 --seconds 10 --trace 0

The first call for a source state builds the repo's main sources together
with the harness under perfbench/src (an sbt project of its own) into
.bench_build/perfbench/target-<hash>, where <hash> covers every source
file, and caches the resulting classpath beside it; later calls with the
same sources start the JVM directly, and a source state that comes back
finds its own classes. The harness prints
progress lines and, as its last line, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; this launcher relays it.
Everything a run writes stays under .bench_build/perfbench; what outlives
a run (classes, traces, the untraced medians a traced run compares
against) is kept per source state.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
REPO_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ingest", "match", "mine", "index")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (the repo's build.sbt passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    out = []
    for base in (REPO_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(ROOT, "build.sbt")]
    return sorted(out)


def build():
    """Compile once per source state into a target directory of its own;
    return its key and the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    cp_file = os.path.join(BUILD, "classpath-" + key)
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return key, fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dperfbench.target=" + os.path.join(BUILD, "target-" + key)]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos]
    cmd.append("export Runtime/fullClasspath")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return key, cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", type=int, default=-1,
                    help="fail the timed operation with this index "
                         "(the benchmark's own tests use it)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO_SRC, "graft")):
        sys.exit("perfbench: no program sources at src/main/scala/graft; "
                 "run from the root of a full checkout")
    key, cp = build()
    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed,
                                                     os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # The JVM sees half the host's cores, so Spark runs local[N/2] with
    # N/2 shuffle partitions and sizes its GC and JIT threads to match:
    # with a task thread per core, the driver, JIT and GC threads and any
    # neighbour on a shared host queue behind the tasks, and operation
    # times follow the scheduler.
    workers = max(1, len(os.sched_getaffinity(0)) // 2)
    # no hsperfdata file under /tmp: the run writes only in the checkout
    cmd = ["java", "-XX:ActiveProcessorCount=%d" % workers, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inject-fail", str(a.inject_fail),
            "--work", work,
            "--traces", os.path.join(BUILD, "traces-" + key),
            "--results", os.path.join(BUILD, "results-" + key),
            "--src", os.path.join(REPO_SRC, "graft")]
    last = None
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, p.kill)
    watchdog.start()
    try:
        for line in p.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        rc = p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or last is None or not last.startswith("{"):
        sys.exit("perfbench: harness failed (exit %s)" % rc)


if __name__ == "__main__":
    main()
