#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny size, untraced and
traced, including the correctness gate, plus a run in a directory without
the engine's sources (which must fail). It never uses the hold-out seed.

    python3 perfbench/test_bench.py
"""

import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

ROOT = run.ROOT


def bench(*args, cwd=ROOT, script=os.path.join("perfbench", "run.py")):
    return subprocess.run([sys.executable, script, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_result(proc, trace):
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    declared = run.declared_metrics(trace)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if not trace:
        for k, v in result["metrics"].items():
            assert v["value"] > 0, (k, v)
    return result


def main():
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            seed = 1 + trace
            proc = bench("--workload", workload, "--seed", str(seed), "--seconds", "2",
                         "--trace", str(trace), "--tiny")
            result = check_result(proc, trace)
            print(f"ok {workload} trace={trace} seed={seed} attempted={result['attempted']}")
            if trace:
                m = result["metrics"]
                assert m["driver.jobs"]["value"] >= 1, m["driver.jobs"]
                if workload.startswith("book"):
                    assert m["plans.replay.rows"]["value"] > 0, m["plans.replay.rows"]
                    assert m["core.fold_s"]["value"] > 0, m["core.fold_s"]
                else:
                    assert m["pipeline.candidate_rows"]["value"] > 0, m["pipeline.candidate_rows"]
                spans = os.path.join(ROOT, ".bench_out",
                                     f"spans-{workload}-seed{seed}-trace1-tiny.json")
                with open(spans) as f:
                    names = {s["name"] for s in json.load(f)["spans"]}
                assert {"setup", "op", "operators.build", "action"} <= names, names

    # without the engine's sources the benchmark must fail, and print no result
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = bench("--workload", "book_skew", "--seed", "1", "--seconds", "2",
                     "--trace", "0", cwd=bare)
        assert proc.returncode != 0, proc.stdout
        assert not proc.stdout.strip(), proc.stdout
        print("ok bare directory fails")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
