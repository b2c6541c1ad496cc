#!/usr/bin/env python3
"""graft benchmark: book replay and retrieval serving, end to end and per layer.

    python3 perfbench/run.py --workload book_skew --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark from
source (see build.py), runs one workload in one JVM, checks every output
against a reference, and prints each metric by name with its unit, then one
JSON result as the last line of stdout. The full record, stamped with the
machine's state, goes to .bench_out/. Exits non-zero when the build, the run
or a correctness check fails.

--tiny runs a few-second version of a workload for the benchmark's own test
(test_bench.py).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["book_skew", "book_wide", "retrieval_serve"]
# Seed kept out of all tuning, for checking a claim on unseen inputs.
HOLDOUT_SEED = 90210
JVM_TIMEOUT_S = 170
JVM_MODULE_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # an exported checkout; do not pick up an enclosing repository
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    load_start = loadavg()
    nproc = len(os.sched_getaffinity(0))
    try:
        declared = declared_metrics(args.trace)
        build_s = build.build()
        cp = os.pathsep.join(build.classpath())
    except (OSError, KeyError, ValueError, build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"cannot build: {e}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tiny' if args.tiny else ''}"
    trace_file = os.path.join(out_dir, f"spans-{tag}.json")
    # A fixed heap and young generation: with adaptive sizing, peak_rss_mb
    # spread 20-28% between runs; fixed, it spreads about 1%.
    cmd = ([build.java(), "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JVM_MODULE_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(nproc), "--tiny", "1" if args.tiny else "0",
              "--work", work, "--trace-file", trace_file])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    record = next((json.loads(x[7:]) for x in lines if x.startswith("RECORD ")), None)
    result = next((json.loads(x[7:]) for x in lines if x.startswith("RESULT ")), None)
    if proc.returncode != 0 or record is None or result is None:
        fail(f"run failed (exit code {proc.returncode})")

    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(declared))}")
    record.update({
        "nproc": nproc, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "git_head": git_head(), "build_s": build_s, "result": result,
        "holdout_seed": HOLDOUT_SEED,
    })
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"loadavg {load_start} -> {record['loadavg_end']} jvm={record['jvm']} "
          f"head={record['git_head'][:12]} inputs={json.dumps(record['inputs'])}")
    if not args.trace:
        print(f"# samples={record['samples']} tail_percentile={record['tail_percentile']:.1f}")
    for name, m in sorted(result["metrics"].items()):
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio = {record['failed_ratio']:.6g} ratio "
          f"({result['failed']} of {result['attempted']})")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
