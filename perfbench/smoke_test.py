#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Run from the root of a checkout. Each workload runs once untraced and
once traced at a small size with a fixed seed; the test asserts that
every run passes its output checks and prints every metric
BENCHMARK.json names, with its unit. It also asserts that the benchmark
refuses to run, without printing a result, in a directory that holds
only BENCHMARK.json and the benchmark's own files. Takes a few minutes.
"""
import json
import math
import os
import shutil
import subprocess
import sys

SEED = 7
SCALE = 0.5
KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd, workload, trace):
    return subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=cwd, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=900)


def check_result(bench, workload, trace, proc):
    where = f"{workload} trace={trace}"
    assert proc.returncode == 0, f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == KEYS, f"{where}: result keys {sorted(last)}"
    assert last["correct"] is True and last["failed"] == 0, \
        f"{where}: checks failed: {proc.stdout.strip().splitlines()[-2][-2000:]}"
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1, where
    want = bench["per_layer"] if trace else bench["end_to_end"]
    got = last["metrics"]
    assert set(got) == {m["name"] for m in want}, \
        f"{where}: metrics differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in want})}"
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']}, want {m['unit']}"
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), \
            f"{where}: {m['name']} = {v['value']}"
        if not trace:
            assert v["value"] > 0, f"{where}: {m['name']} = {v['value']}"


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_result(bench, w["name"], trace, run(root, w["name"], trace))
            print(f"ok  {w['name']} trace={trace}", flush=True)

    bare = os.path.join(root, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(root, p), os.path.join(bare, p))
        proc = run(bare, bench["workloads"][0]["name"], 0)
        assert proc.returncode != 0, "the benchmark ran without the program's sources"
        assert '"correct"' not in proc.stdout, "the benchmark printed a result without the program"
        print("ok  refuses to run without the program's sources")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"FAIL {e}", file=sys.stderr)
        sys.exit(1)
