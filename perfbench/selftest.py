#!/usr/bin/env python3
"""Self-tests of the benchmark's own pieces.

Usage (from the root of a checkout): python3 perfbench/selftest.py

Checks that the same seed renders the same document bytes in two
separate JVMs, runs the tiny-scale oracle test (SelfTest.scala), and
checks the statistics run.py reports. Exits nonzero on any failure.
"""

import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def scala(cp, run_dir, *args):
    cmd = run.jvm(cp, "2g", run_dir, "graft.perfbench.SelfTest", args,
                  ["--add-exports", "jdk.httpserver/sun.net.httpserver=ALL-UNNAMED"])
    res = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-6000:])
        raise AssertionError(f"SelfTest {' '.join(args)} exited {res.returncode}")
    return res.stdout.strip().splitlines()


def check_statistics():
    res = {"warm_ops": 1, "docs_per_round": 100, "mem_live_mb": 2.0, "cold_ms": 9999.0,
           "ops": [{"ms": 9999.0, "cpu_ms": 1.0}] +
                  [{"ms": 1000.0 + i, "cpu_ms": 2000.0} for i in range(11)]}
    m = run.end_to_end("backfill", 4.0, res)
    assert m["op_p50_ms"] == (1005.0, "ms"), m
    assert m["throughput_per_s"][0] == 100 * 11 / 11.055, m
    assert m["cpu_ms_per_op"] == (2000.0, "ms"), m
    assert m["cold_op_ms"] == (9999.0, "ms"), m
    assert m["mem_live_mb"] == (2.0, "MB"), m
    assert m["setup_s"] == (4.0, "s"), m
    m = run.end_to_end("signal_reads", 4.0, res)
    assert m["throughput_per_s"][0] == 11 / 11.055, m


def main():
    root = Path.cwd()
    classes = run.build(root)
    cp = run.classpath(root, classes)
    run_dir = root / ".bench_build" / "selftest"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        check_statistics()
        print("selftest statistics: ok")
        for workload in ("backfill", "resume"):
            a = scala(cp, run_dir, "digest", workload, "7")
            b = scala(cp, run_dir, "digest", workload, "7")
            assert a == b, f"{workload}: two JVMs rendered seed 7 differently"
            print(f"selftest digest {workload}: ok ({a[0][:16]}...)")
        for line in scala(cp, run_dir, "oracle", str(run_dir / "oracle")):
            print(line)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (AssertionError, run.BenchError) as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        sys.exit(1)
