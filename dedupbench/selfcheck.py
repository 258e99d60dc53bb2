#!/usr/bin/env python3
"""Tiny-input self-check of the benchmark itself.

    python3 dedupbench/selfcheck.py

For each workload, at 200 conversations: an untraced run and a traced run
must pass their checks and print exactly the metrics BENCHMARK.json names,
the traced layer walls must cover the iteration wall within 10%, and a run
with one planted corruption must fail its checks. Last, the command must
refuse to run, without printing a result, from a directory holding only
BENCHMARK.json and the benchmark's files. Exits non-zero on any failure.
"""
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("near_dup_batch", "exact_restore", "incremental_ingest")
CONVS = "200"

failures = []


def expect(ok, what):
    print(("ok      " if ok else "FAILED  ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join(cwd, "dedupbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}

    for wl in WORKLOADS:
        for trace in (0, 1):
            code, result, err = run(ROOT, "--workload", wl, "--seed", "7", "--seconds", "1",
                                    "--trace", str(trace), "--convs", CONVS)
            what = f"{wl} trace={trace}"
            expect(code == 0 and result is not None and result["correct"], f"{what}: checks pass")
            if result is None:
                continue
            got = set(result["metrics"])
            expect(got == names[trace], f"{what}: metrics are exactly BENCHMARK.json's "
                   f"(missing {sorted(names[trace] - got)}, extra {sorted(got - names[trace])})")
            expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                   f"{what}: every metric has a numeric value")
            if trace:
                frac = result["metrics"]["iteration.layer_sum_frac"]["value"]
                expect(0.9 <= frac <= 1.1, f"{what}: layer walls sum to {frac:.3f} of the iteration")
            else:
                expect(all(v["value"] > 0 for v in result["metrics"].values()),
                       f"{what}: no end-to-end metric is 0")
        code, result, _ = run(ROOT, "--workload", wl, "--seed", "7", "--seconds", "1",
                              "--trace", "0", "--convs", CONVS, "--plant-corruption")
        expect(code != 0 and result is not None and not result["correct"] and result["failed"] >= 1,
               f"{wl}: a planted corruption fails the checks")

    bare = os.path.join(ROOT, ".bench_build", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "dedupbench"),
                    ignore=shutil.ignore_patterns("target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    t0 = time.time()
    code, result, _ = run(bare, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    expect(code != 0 and result is None and time.time() - t0 < 180,
           "without engine sources the command exits non-zero and prints no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)" if failures else "self-check passed", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
