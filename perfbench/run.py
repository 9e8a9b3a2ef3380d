#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source with sbt on the first run (or when
a source file changed), then runs the workload in one JVM at local[nproc].
Everything the run writes goes under .bench_build/perfbench in the checkout.
The last line of stdout is the result object; the exit code is 0 only when
every operation and output check passed. See perfbench/METRICS.md.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
LAUNCH = BENCH / "target" / "launch"
WORKLOADS = ("kg_build", "kg_query")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and waits."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp_file = WORK / "build.stamp"
    try:
        stamp = source_stamp()
    except FileNotFoundError as e:
        log(f"graft sources not found next to the benchmark: {e}")
        return False
    if (stamp_file.exists() and stamp_file.read_text() == stamp
            and (LAUNCH / "classpath").exists()):
        return True
    log("building graft and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-J--add-modules=jdk.incubator.vector", "-J-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    rc = run_killable(cmd + ["writeLaunch"], BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                      stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if rc != 0:
        log(f"build failed (exit {rc})")
        return False
    WORK.mkdir(parents=True, exist_ok=True)
    stamp_file.write_text(stamp)
    return True


def main():
    # a SIGTERM must reach the JVM's process group too (run_killable's
    # BaseException handler kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not build():
        return 2
    cores = len(os.sched_getaffinity(0))
    cp = (LAUNCH / "classpath").read_text().strip()
    jvm = [l for l in (LAUNCH / "jvm-options").read_text().splitlines() if l.strip()]
    env = dict(os.environ,
               GRAFT_STAGE_ROOT=str(WORK / "stage"),
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    env.pop("GRAFT_NO_SIMD", None)
    cmd = (["java"] + jvm + [HEAP, f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp,
                             "perfbench.Main",
                             "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", a.trace,
                             "--cores", str(cores), "--work", str(WORK),
                             "--bench-dir", str(BENCH)])
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    rc = run_killable(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    return 3 if rc is None else rc


if __name__ == "__main__":
    sys.exit(main())
