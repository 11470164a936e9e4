#!/usr/bin/env python3
"""Wheel-index benchmark. Run from the repository root:

    python3 wheelbench/run.py --workload indexed_mix --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (once per source state),
generates the inputs, runs one workload in a fresh JVM, checks every answer
against DuckDB and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with `--trace 0`,
the per-layer ones with `--trace 1`). See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

THREADS = max(1, min(4, os.cpu_count() or 1))
JVM_TIMEOUT_S = 160

# The JDK module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sizes(workload, seconds):
    """Fixed operation counts for a run of `seconds`: every run with the same
    arguments does the same work. The read loop takes about `seconds`; the
    upkeep phase that follows it is the same on both workloads: 4 cycles
    (the first a warm-up), every second one compacting, then 8 loads."""
    s = dict(cycles=4, compact_every=2)
    if workload == "indexed_mix":
        # 20 ranges x 11 families, ~3 s a round, after a warm-up of 220 queries
        s.update(ranges=20, warmup_ranges=20, rounds=max(1, round(seconds / 3)))
    elif workload == "scan_decline":
        # 2 ranges x 10 families of scans, ~3.5 s a round, after a warm-up of 10
        s.update(ranges=2, warmup_ranges=1, rounds=max(1, round(seconds / 3.5)))
    else:
        raise SystemExit(f"unknown workload {workload}")
    return s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    size = sizes(a.workload, a.seconds)

    root = os.getcwd()
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "wheelbench")
    try:
        classes = build.build(root, out_dir)
    except build.BuildError as e:
        sys.exit(f"wheelbench: {e}")
    base = datagen.base(os.path.join(out_dir, "data", "events_base.parquet"))
    jars = build.spark_jars()

    run_dir = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=out_dir)
    try:
        batch_dir = os.path.join(run_dir, "batches")
        batches = datagen.batches(batch_dir, base, a.seed, size["cycles"],
                                   size["compact_every"])
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        result = os.path.join(run_dir, "result.json")
        answers = os.path.join(run_dir, "answers.jsonl")
        # a fixed, pre-touched heap with a fixed 1 GiB young generation: no
        # resizing from run to run, and few collections inside the read loop
        cmd = [build.java(), "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+AlwaysPreTouch", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                "wheelbench.WheelBench",
                "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                "--threads", str(THREADS), "--work", run_dir, "--base", base,
                "--batches", batch_dir, "--out", result, "--answers", answers,
                "--spans", os.path.join(out_dir, f"spans-{a.workload}.jsonl")]
        for k, v in size.items():
            cmd += [f"--{k}", str(v)]
        log = os.path.join(out_dir, f"last-{a.workload}.log")
        t0 = time.time()
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                sys.exit(f"wheelbench: the JVM ran past {JVM_TIMEOUT_S} s (log: {log})")
        if rc != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-3000:])
            sys.exit(f"wheelbench: the JVM exited with code {rc} (log: {log})")
        with open(result) as f:
            res = json.load(f)
        records = oracle.load(answers)
        checked, wrong, msgs = oracle.check(records, base, batches)
        for m in res["errors"] + msgs:
            sys.stderr.write(f"wheelbench: {m}\n")
        metrics = res["metrics"]
        bad = [n for n, m in metrics.items() if not isinstance(m["value"], (int, float))]
        if bad:
            sys.exit(f"wheelbench: no value measured for {', '.join(bad)}")
        print(f"# {a.workload} seed={a.seed} trace={a.trace}: {res['attempted']} operations, "
              f"{res['failed'] + wrong} failed, {checked} distinct answers checked against "
              f"DuckDB, JVM {time.time() - t0:.1f} s")
        for name, m in metrics.items():
            print(f"#   {name:32s} {m['value']:>14.6g} {m['unit']}")
        print(json.dumps({
            "correct": wrong == 0,
            "attempted": res["attempted"],
            "failed": res["failed"] + wrong,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
