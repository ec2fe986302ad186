#!/usr/bin/env python3
"""Smoke test of the benchmark at toy size.

    python3 perfbench/smoke_test.py

Runs every workload (BENCHMARK.json's and store_lifecycle) through run.py
with --smoke (the LiveCrawlBenchSpec-sized fleet, two queries per query
workload), untraced and traced, and asserts that each run prints every
named metric with its unit as the last line, that its correctness checks
ran and passed, and that a directory holding only BENCHMARK.json and the
benchmark's files makes the benchmark fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def check_run(spec, workload, trace):
    p = run(ROOT, workload, trace)
    where = f"{workload} trace={trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {p.stderr[-3000:]}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, where
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted], where
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']}"
    if not trace:
        for name in ("setup_s", "ops_per_s", "round_p50_ms", "ok_frac"):
            assert result["metrics"][name]["value"] > 0, f"{where}: {name} is 0"
    checks = [json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("perfbench-checks ")]
    assert checks and checks[0] and all(checks[0].values()), f"{where}: checks {checks}"
    expected = "oracle" if workload != "crawl_loopback" else "page counts repeat"
    assert expected in checks[0], f"{where}: no '{expected}' check in {checks[0]}"
    print(f"ok   {where}: {len(wanted)} metrics, checks {sorted(checks[0])}")


def check_bare_directory(spec):
    """Only BENCHMARK.json and the benchmark's files: no engine to build."""
    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("work"))
    p = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, "bare directory: exit 0"
    assert not any(l.startswith("{") for l in p.stdout.splitlines()), "bare directory printed a result"
    assert "failed at step" in p.stderr, p.stderr[-2000:]
    print("ok   bare directory fails:", p.stderr.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    # store_lifecycle is not in BENCHMARK.json but stays runnable by hand
    for w in [w["name"] for w in spec["workloads"]] + ["store_lifecycle"]:
        for trace in (0, 1):
            check_run(spec, w, trace)
    check_bare_directory(spec)
    print("smoke test passed")


if __name__ == "__main__":
    main()
