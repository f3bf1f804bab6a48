#!/usr/bin/env python3
"""Sync-engine benchmark: cold backfill, fleet resume and signal reads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload backfill|resume|signal_reads \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (scalac
against the Spark jars, output under .bench_build/), starts the ES test
double and the engine in their own JVMs, runs the workload closed-loop
for S seconds, checks every operation against the seeded oracle, and
prints one metric per line followed by one JSON object as the last line.
With --trace 0 the JSON carries the end-to-end metrics, with --trace 1
the per-layer metrics (see perfbench/METRICS.md). Exits 1 if any
operation returned a wrong result, 2 on a usage or environment error.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("backfill", "resume", "signal_reads")
ENGINE_HEAP = "2g"
STUB_HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """An environment or run failure: reported without a result line."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────────

def spark_jars(root):
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    build.sbt compiles against (its unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if not m:
            raise BenchError("set SPARK_HOME to a Spark 4 distribution")
        jars = Path(m.group(1))
    if not list(jars.glob("scala-compiler-2.13.*.jar")):
        raise BenchError(f"no Scala 2.13 compiler among the Spark jars in {jars}")
    return jars


def sources(root):
    dirs = [root / "src/main/scala", root / "perfbench/src"]
    for d in dirs + [root / "src/main/resources"]:
        if not d.is_dir():
            raise BenchError(f"{d.relative_to(root)} is missing: run from the root of a checkout")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build(root):
    """Compiles the engine and the benchmark once per source state."""
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in files + sorted((root / "src/main/resources").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    log(f"compiling {len(files)} Scala sources")
    if out.exists():
        shutil.rmtree(out)
    tmp = out / "classes.tmp"
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", f"{jars}/*", "-nowarn", f"@{argfile}"]
    t0 = time.monotonic()
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise BenchError("compilation failed")
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    log(f"compiled in {time.monotonic() - t0:.1f} s")
    return classes


def classpath(root, classes):
    return os.pathsep.join([str(classes), str(root / "src/main/resources"), f"{spark_jars(root)}/*"])


# ── processes ────────────────────────────────────────────────────────────

class Procs:
    """Owns every child JVM: each exits when its stdin closes, and stop()
    closes it, waits, and kills what is still alive."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, **kw):
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, **kw)
        self.procs.append(p)
        return p

    def stop(self, p, grace=20):
        if p.stdin and not p.stdin.closed:
            try:
                p.stdin.close()
            except OSError:
                pass
        try:
            p.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        if p in self.procs:
            self.procs.remove(p)

    def stop_all(self):
        for p in list(self.procs):
            self.stop(p, grace=5)


def jvm(cp, heap, run_dir, main, args, extra=()):
    # a fixed heap size, so that no run spends rounds growing its heap;
    # the memory metric is the live heap, which the heap size does not set
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + list(extra) + ["-cp", cp, main] + [str(a) for a in args])


def engine_cmd(cp, run_dir, args, phase):
    return jvm(cp, ENGINE_HEAP, run_dir, "graft.perfbench.EngineMain",
               [args.workload, args.seed, args.seconds, args.trace, run_dir, phase])


def log_tail(path):
    sys.stderr.write(path.read_text(errors="replace")[-4000:])


def start_stub(procs, cp, run_dir, args):
    """Starts the ES double and waits until it serves. It serves every
    engine JVM of the run and is stopped with them."""
    logf = open(run_dir / "stub.log", "ab")
    stub = procs.start(
        jvm(cp, STUB_HEAP, run_dir, "graft.perfbench.StubMain",
            [args.workload, args.seed, run_dir / "stub.port"],
            ["--add-exports", "jdk.httpserver/sun.net.httpserver=ALL-UNNAMED"]),
        stdout=logf, stderr=logf)
    logf.close()
    deadline = time.monotonic() + 120
    while not (run_dir / "stub.port").exists():
        if stub.poll() is not None or time.monotonic() > deadline:
            log_tail(run_dir / "stub.log")
            raise BenchError("the ES double did not start")
        time.sleep(0.05)


def engine(procs, cp, run_dir, args, phase):
    """One fresh engine JVM in `phase` (setup, prepare or run), stopped
    before this returns. Returns (set-up seconds, the run's result): the
    set-up is the time from starting the JVM until its session is ready
    and the double answers."""
    logf = open(run_dir / f"{phase}.log", "ab")
    t0 = time.monotonic()
    eng = procs.start(engine_cmd(cp, run_dir, args, phase),
                      stdout=subprocess.PIPE, stderr=logf, text=True)
    setup = result = None
    done = False
    try:
        for line in eng.stdout:
            if line.startswith("PB_SETUP_DONE"):
                setup = time.monotonic() - t0
            elif line.startswith("PB_PREPARED"):
                done = True
            elif line.startswith("PB_RESULT "):
                result = json.loads(line[len("PB_RESULT "):])
                done = "fatal" not in result
        eng.wait(timeout=60)
    finally:
        procs.stop(eng)
        logf.close()
    if setup is None or not done:
        log_tail(run_dir / f"{phase}.log")
        why = result.get("fatal") if result else "no result"
        raise BenchError(f"engine {phase} failed: {why}")
    return setup, result


# set-ups timed per untraced run: a spare JVM that only sets up (or
# resume's snapshot JVM) and the measuring JVM; setup_s is their median
SETUP_REPEATS = 2


def session_runs(procs, cp, run_dir, args):
    """The run's engine JVMs, one after another, while the double serves:
    resume writes its store snapshot in a JVM of its own, other untraced
    runs start a spare JVM that only sets up, then one JVM measures.
    Returns (the set-up times, the measuring JVM's result)."""
    start_stub(procs, cp, run_dir, args)
    phases = ["prepare"] if args.workload == "resume" else []
    if not args.trace:
        phases = ["setup"] * (SETUP_REPEATS - 1 - len(phases)) + phases
    setups = [engine(procs, cp, run_dir, args, phase)[0] for phase in phases]
    setup, result = engine(procs, cp, run_dir, args, "run")
    return setups + [setup], result


# ── statistics ───────────────────────────────────────────────────────────

def median(xs):
    return statistics.median(xs)


def end_to_end(workload, setup, res):
    """The end-to-end metrics, the same names on every workload: an
    operation is a sync round on backfill and resume and a query on
    signal_reads, and throughput counts docs synced or queries."""
    ops = res["ops"][res["warm_ops"]:]
    ms = [o["ms"] for o in ops]
    work = 1 if workload == "signal_reads" else res["docs_per_round"]
    return {
        "op_p50_ms": (median(ms), "ms"),
        "throughput_per_s": (work * len(ms) / (sum(ms) / 1000.0), "1/s"),
        "cpu_ms_per_op": (median(o["cpu_ms"] for o in ops), "ms"),
        "cold_op_ms": (res["cold_ms"], "ms"),
        "mem_live_mb": (res["mem_live_mb"], "MB"),
        "setup_s": (setup, "s"),
    }


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "unknown (not a git checkout)"


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat,
    or None where it cannot be read."""
    try:
        ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


# ── main ─────────────────────────────────────────────────────────────────

def run(args, root):
    classes = build(root)
    cp = classpath(root, classes)
    bench_dir = root / ".bench_build"
    run_dir = bench_dir / "runs" / f"{args.workload}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    (run_dir / "tmp").mkdir(parents=True)
    procs = Procs()
    ticks0 = cpu_ticks()
    try:
        setups, res = session_runs(procs, cp, run_dir, args)
        trace_src = run_dir / "trace.json"
        if trace_src.exists():
            (bench_dir / "traces").mkdir(parents=True, exist_ok=True)
            shutil.copy(trace_src, bench_dir / "traces" / f"{args.workload}-seed{args.seed}.json")
    finally:
        procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    # every operation run is checked and counted, warm-up included
    errors = [o["error"] for o in res["ops"] if "error" in o]
    attempted = len(res["ops"])
    ops = res["ops"][res["warm_ops"]:]
    for e in errors[:5]:
        log(f"WRONG RESULT: {e}")
    e2e = end_to_end(args.workload, median(setups), res)
    host = dict(res.get("host", {}), commit=git_commit(root), seed=args.seed,
                workload=args.workload, trace=args.trace, ops=len(ops))
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests while this run ran
        host["steal_pct"] = round(100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2)
    print(f"host: {json.dumps(host, sort_keys=True)}")
    print(f"failed_frac {len(errors) / attempted:.6f} (failed {len(errors)} of {attempted})")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"info setup_s samples {' '.join(f'{s:.3f}' for s in setups)}")

    results = bench_dir / "results"
    results.mkdir(parents=True, exist_ok=True)
    # the peak RSS follows the heap size more than the program's memory:
    # reported, not a metric
    print(f"info rss_peak_mb {res['rss_peak_kb'] / 1024.0:.6g} MB")
    mine = {"host": host, "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "rss_peak_mb": res["rss_peak_kb"] / 1024.0,
            "op_ms": [o["ms"] for o in res["ops"]], "cpu_ms": [o["cpu_ms"] for o in res["ops"]],
            "setup_s": setups, "warm_ops": res["warm_ops"]}
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(mine, indent=1, sort_keys=True))

    if args.trace:
        layers = dict(res["layers"])
        layers["trace.op_p50_ms"] = median(o["ms"] for o in ops)
        # the per-layer metrics and their units are the ones BENCHMARK.json lists
        per_layer = json.loads((root / "BENCHMARK.json").read_text())["per_layer"]
        missing = [m["name"] for m in per_layer if m["name"] not in layers]
        if missing:
            raise BenchError(f"traced run did not measure {missing}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in per_layer}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
        untraced = results / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            for k, v in mine["end_to_end"].items():
                if k in base and base[k]:
                    print(f"tracing overhead {k}: {v:.6g} traced vs {base[k]:.6g} untraced "
                          f"({100.0 * (v / base[k] - 1):+.1f}%)")
        else:
            print("tracing overhead: no untraced result for this workload and seed yet")
    else:
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in e2e.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    return 0 if not errors else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, Path.cwd())
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
