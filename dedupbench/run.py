#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one workload.

    python3 dedupbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds (sbt, into
the checkout's target/ directories); later runs reuse the build while no
source file is newer than it. Every file a run writes lands under
.bench_build/ in the checkout. The last stdout line is the result JSON;
the exit code is non-zero when a check failed or the run could not be made.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.json")
WORKLOADS = ("near_dup_batch", "exact_restore", "incremental_ingest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# a fixed heap keeps peak RSS repeatable; no perf-data file outside the checkout
JVM_OPTIONS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData"]


def log(msg):
    print(f"[dedupbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)


def build_is_current():
    if not os.path.exists(LAUNCH):
        return False
    built = os.path.getmtime(LAUNCH)
    return all(os.path.getmtime(f) <= built for f in sources() if os.path.exists(f))


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and wait for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt writeLauncher)")
    t0 = time.time()
    code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"[dedupbench] build failed (exit {code})")
    log(f"built in {time.time() - t0:.0f} s")


def git_commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, help="conversations (default: the workload's size)")
    ap.add_argument("--plant-corruption", action="store_true",
                    help="corrupt one output row before the checks (they must fail)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.exit("[dedupbench] no engine sources next to the benchmark: run from a source checkout")
    if not build_is_current():
        build()

    with open(LAUNCH) as f:
        launch = json.load(f)
    out_dir = os.path.join(ROOT, ".bench_build")
    work = os.path.join(out_dir, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    # Spark's local directories (shuffle, spill, blocks) inside the checkout;
    # this overrides the session's configured local dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", *launch["java_options"], *JVM_OPTIONS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", os.pathsep.join(launch["classpath"]), "graft.bench.DedupBench",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--commit", git_commit()]
    if a.trace:
        cmd += ["--spans", os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}-{os.getpid()}.json")]
    if a.convs:
        cmd += ["--convs", str(a.convs)]
    if a.plant_corruption:
        cmd += ["--plant-corruption"]
    try:
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                              stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"[dedupbench] run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.exit(f"[dedupbench] no result from the run (exit {code})")
    print("\n".join(lines), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
