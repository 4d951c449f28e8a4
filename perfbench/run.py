#!/usr/bin/env python3
"""graft's benchmark: one workload per run, in one fresh JVM on local[N].

    python3 perfbench/run.py --workload query-tail --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
runs the workload, checks its outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
record (every op, pass, set-up sample and anchor, plus spans when traced)
is kept under .bench_build/records/ for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
INPUTS = os.path.join(BENCH, "inputs")
# query-tail reads the sf0.01 tables; the day-2 half of etl-cycle ingests
# sf0.001's documents and co-purchase graph.
DATA = {"query-tail": "sf0.01", "etl-cycle": "sf0.001"}
GOLDENS = os.path.join(BENCH, "goldens.txt")
DAY2 = os.path.join(INPUTS, "day2")

# Seconds one timed pass took at the commit that defined the benchmark
# (4 cores). A run times round(seconds / nominal) whole passes, at least
# one, so every run of a workload has the same samples and the same tail
# percentile whatever the host speed.
NOMINAL_PASS_S = {"query-tail": 6.0, "etl-cycle": 30.0}


def metric_units(kind):
    """Metric name -> unit, in BENCHMARK.json's order ("end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# A run whose host anchors spread more than this (max/min - 1) is marked
# not comparable in its record.
ANCHOR_BOUND = 0.25

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and harness (sbt)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cp = [ln for ln in lines if ln.endswith(".jar") and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f}s")
    return cp[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, classpath, work, record, passes, limit_s):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--passes", str(passes),
            "--trace", str(args.trace), "--data", os.path.join(INPUTS, DATA[args.workload]), "--work", work, "--out", record,
            "--goldens", GOLDENS, "--day2", DAY2, "--cores", str(cores())] +
           (["--mode", "golden"] if args.golden else []) +
           (["--mode", "fixtures"] if args.fixtures else []))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload exceeded {limit_s:.0f}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with {rc}")


def summarize(rec, trace):
    """Turns a run record into (correct, attempted, failed, metrics, extra)."""
    warm = rec["warmup"]
    timed = [p for p in rec["passes"] if not p["traced"]]
    ops = [op for p in rec["passes"] for op in p["ops"]]
    attempted = len(warm) + len(ops)
    failed = sum(not op["ok"] for op in warm + ops) + len(rec["unstable_artifacts"])
    walls = [op["wall_s"] for p in timed for op in p["ops"]]
    tail_v, tail_p, tail_n = stats.tail(walls)
    anchors = rec["anchor_s"]
    extra = {
        "op_tail_percentile": tail_p, "op_samples": tail_n,
        "op_fail_ratio": failed / attempted,
        "anchor_spread": max(anchors) / min(anchors) - 1,
        "comparable": max(anchors) / min(anchors) - 1 <= ANCHOR_BOUND and failed == 0,
    }
    if not trace:
        values = {
            "pass_s": stats.median([p["wall_s"] for p in timed]),
            "op_p50_s": stats.median(walls),
            "op_tail_s": tail_v,
            "setup_s": stats.median(rec["setup_s"]),
            "peak_heap_mb": rec["peak_heap_mb"],
            "op_ok_ratio": 1 - failed / attempted,
        }
        units = metric_units("end_to_end")
    else:
        traced = [p for p in rec["passes"] if p["traced"]]
        layers = {k: stats.median([p["layers"][k] for p in traced])
                  for k in traced[0]["layers"]}
        layers["host.anchor_s"] = stats.median(anchors)
        layers["host.load1"] = stats.median(rec["load1"])
        layers["harness.gen_s"] = rec["gen_s"]
        layers["harness.trace_overhead_ratio"] = (
            stats.median([p["wall_s"] for p in traced]) /
            stats.median([p["wall_s"] for p in timed]))
        units = metric_units("per_layer")
        values = {k: layers[k] for k in units}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return failed == 0, attempted, failed, metrics, extra


def main(argv=None):
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", action="store_true",
                    help="write the queries' output fingerprints to goldens.txt")
    ap.add_argument("--fixtures", action="store_true",
                    help="write etl-cycle's day-2 inputs to inputs/day2 (done once)")
    args = ap.parse_args(argv)
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "BENCHMARK.json"),
                 os.path.join(INPUTS, DATA[args.workload])):
        if not os.path.exists(need):
            raise SystemExit(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")

    started = time.time()
    classpath = build()
    passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(BUILD, "records",
                          f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(args, classpath, work, record, passes, max(60.0, 175.0 - (time.time() - started)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.golden or args.fixtures:
        return 0
    with open(record) as f:
        rec = json.load(f)
    correct, attempted, failed, metrics, extra = summarize(rec, args.trace == 1)
    rec["summary"] = {"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics, **extra}
    with open(record, "w") as f:
        json.dump(rec, f)
    if not extra["comparable"]:
        log(f"run not comparable: anchor spread {extra['anchor_spread']:.3f}, failed {failed}")
    log(f"record: {os.path.relpath(record, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
