#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fixed-length run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record-query-suite

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (its own build under perfbench/, which
depends on the root project); later runs reuse that build while no
source file has changed. The build ends with a training run: one JVM
runs every workload once and writes a class-data sharing archive of the
classes it loaded, which every measured JVM then maps instead of loading
those classes from their jars. The measured process is a plain `java` on
the recorded classpath. The last line of standard output is the result
object; progress and host readings go to standard error, and the run's
full detail (every op and pass) to .bench_build/perfbench/work-<W>/.
--record-query-suite re-records perfbench/expected/query_suite.tsv, the
row counts and hashes query_suite checks its results against.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(STATE, "classes.jsa")
WORKLOADS = ("elt_pipeline", "table_dml", "query_suite")
# -Xms equal to -Xmx: the heap never resizes during a run.
HEAP = "2g"
BUILD_TIMEOUT_S = 420
TRAIN_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def launch_files(launch):
    """The recorded classpath and JVM options of the benchmark JVM."""
    with open(os.path.join(launch, "classpath.txt")) as f:
        classpath = os.pathsep.join(f.read().split("\n"))
    with open(os.path.join(launch, "jvm_options.txt")) as f:
        jvm_options = [o for o in f.read().split("\n") if o]
    return classpath, jvm_options


def java_cmd(launch, work, archive_flag):
    """The benchmark JVM's command line, up to its arguments. The JIT
    compiles with C1 only: in a run this short, C2 compilation took
    nearly half of the process's CPU, so the process kept about 3.4 of
    the box's 4 cores busy and other tenants' load landed on its
    critical path."""
    classpath, jvm_options = launch_files(launch)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            archive_flag, "-Xlog:cds*=error", *jvm_options,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=200",
            "-cp", classpath, "graftbench.Main", "--bench", BENCH, "--work", work]


def build():
    """Builds with sbt and trains the class-data sharing archive unless
    the recorded build matches the sources."""
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    launch = os.path.join(BENCH, "target", "launch")
    stamp_file = os.path.join(STATE, "build.stamp")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(os.path.join(launch, "classpath.txt")) and os.path.exists(ARCHIVE)):
        return launch
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = ["-Dsbt.offline=true"]
    if os.path.exists(repos):
        offline += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    print("perfbench: building graft and the benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(["sbt", *SBT_FLAGS, *offline, "writeLaunch"], cwd=BENCH, env=env,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail("build failed", 3)
    os.makedirs(STATE, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("perfbench: training the class-data sharing archive", file=sys.stderr)
    work = os.path.join(STATE, "work-train")
    shutil.rmtree(work, ignore_errors=True)
    code = run_java(java_cmd(launch, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train", "1"],
                    TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail("training run failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def run_java(cmd, timeout):
    """Runs the benchmark JVM in its own process group; kills the group
    on timeout and waits until it has ended."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s", 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--record-query-suite", action="store_true")
    a = ap.parse_args()
    if not a.record_query_suite and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources are not next to the benchmark; run from a repository checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    launch = build()
    work = os.path.join(STATE, f"work-{a.workload or 'record'}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    java = java_cmd(launch, work, f"-XX:SharedArchiveFile={ARCHIVE}")
    if a.record_query_suite:
        code = run_java(java + ["--record-query-suite",
                                os.path.join(BENCH, "expected", "query_suite.tsv")], 900)
        sys.exit(code)
    code = run_java(java + ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out],
                    RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with code {code}", 5)
    with open(out) as f:
        result = json.load(f)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
