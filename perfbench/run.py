#!/usr/bin/env python3
"""The repository benchmark: `migration` and `analytics` workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload migration --seed 1 --seconds 8 --trace 0

One run builds the program if needed (sbt, into `.bench_build/`), makes the
workload's inputs from the seed, starts one JVM (Spark `local[nproc]`, one
driver thread, a closed loop with one client) in a scratch working
directory, measures for `--seconds`, checks every output and prints one
JSON object as its last line of standard output. With `--trace 0` that
object carries the end-to-end metrics, with `--trace 1` the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("migration", "analytics")

# Input sizes (see README.md for how they were chosen).
MONTHS = 12
DRIFTED = 2
ROWS_PER_MONTH = 2500
ANALYTICS_SF = 0.001
MIX = ("q3_top_orders q_recursive x_hist g_pagerank d_minhash s_pq_ann "
       "t_tfidf mm_video").split()


def family(query):
    """`tpch` for the TPC-H numbered queries, else the name's prefix (as
    perfbench.Analytics.family)."""
    return "tpch" if re.match(r"q\d+_", query) else query.split("_")[0]


FAMILIES = sorted({family(q) for q in MIX})

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

# host_probe(): array size and sorts per core, and its wall and CPU seconds
# on the reference 4-vCPU VM in a quiet period — the host speed the
# end-to-end timings are reported at.
PROBE_SIZE = 1_000_000
PROBE_ROUNDS = 15
PROBE_REF = (0.28, 1.05)


def per_layer_units():
    """Every per-layer metric the traced run prints, with its unit."""
    m = {"failed_ratio": "ratio"}
    for name in ("partitions.enumerate_s", "partitions.count_s",
                 "copy.write_s", "copy.verify_s", "copy.publish_s",
                 "resume.checkpoint_s", "orchestrate.lock_s",
                 "orchestrate.self_s", "spark.executor_cpu_s", "spark.gc_s"):
        m["migrate." + name] = "s"
    m.update({"migrate.resume.checkpoint_bytes": "bytes",
              "migrate.spark.jobs": "count", "migrate.spark.tasks": "count",
              "migrate.spark.bytes_read": "bytes",
              "migrate.spark.bytes_written": "bytes",
              "migrate.scan_amplification": "count",
              "migrate.write_amplification": "count"})
    for name in ("validate.src_checksum_s", "validate.dst_checksum_s",
                 "validate.recheck_s", "copy.write_s", "resume.checkpoint_s",
                 "orchestrate.self_s", "spark.executor_cpu_s", "spark.gc_s"):
        m["resync." + name] = "s"
    m.update({"resync.spark.jobs": "count", "resync.spark.tasks": "count",
              "resync.spark.bytes_read": "bytes",
              "resync.scan_amplification": "count",
              "resync.drifted_partitions": "count",
              "resync.recopy_ratio": "ratio"})
    for f in FAMILIES:
        m.update({f"analytics.{f}.build_s": "s", f"analytics.{f}.exec_s": "s",
                  f"analytics.{f}.jobs": "count",
                  f"analytics.{f}.executor_cpu_s": "s",
                  f"analytics.{f}.shuffle_bytes": "bytes",
                  f"analytics.{f}.spill_bytes": "bytes"})
    m.update({"analytics.cold_build_s": "s", "analytics.spark.gc_s": "s",
              "analytics.jvm.heap_peak_mb": "MB"})
    for w in WORKLOADS:
        m[w + ".trace_overhead_s"] = "s"
    return m


PER_LAYER = per_layer_units()

# The --add-opens list build.sbt gives the program's forked JVMs (Spark 4
# on JDK 17 needs them outside spark-submit).
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    """A run that cannot produce a result (exit code carried)."""

    def __init__(self, msg, code=2):
        super().__init__(msg)
        self.code = code


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src",
              HERE / "project"):
        files += sorted(p for p in d.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(d).parts)
    files.append(HERE / "build.sbt")
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; return
    the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise Failure("no program sources next to the benchmark "
                      f"(expected build.sbt and src/main under {ROOT})")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building program and harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True,
                           timeout=600)
    except FileNotFoundError:
        raise Failure("sbt not found on PATH", 3)
    except subprocess.TimeoutExpired:
        raise Failure("build timed out", 3)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-2000:])
        raise Failure("build failed", 3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def make_inputs(args, input_dir):
    """Write the workload's inputs; return the JVM config fields."""
    input_dir.mkdir(parents=True)
    workload, seed = args.workload, args.seed
    if workload == "migration":
        path = str(input_dir / "lineitem.parquet")
        rows = gen.migration_table(path, seed, MONTHS, args.rows_per_month)
        drifted, column = gen.drift(
            path, str(input_dir / "lineitem_drift.parquet"), seed, DRIFTED)
        return {"month_rows": rows, "drifted": drifted,
                "drift_column": column}
    gen.analytics_tables(str(input_dir), seed, ANALYTICS_SF)
    order = list(MIX)
    random.Random(seed).shuffle(order)
    cfg = {"order": order}
    if args.inject_failure:
        cfg["inject_failure"] = args.inject_failure
    return cfg


# ---------------------------------------------------------------- JVM

def run_jvm(classpath, work, budget_s):
    (work / "tmp").mkdir()
    # java.io.tmpdir is also where graft.sources.Scratch writes.
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for o in JVM_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", str(work)])
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            raise Failure("JVM exceeded its time budget", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = work / "result.json"
    if code != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise Failure(f"JVM exited with code {code}", 4)
    return json.loads(result.read_text())


# ---------------------------------------------------------------- stats

def summarize(samples):
    """Median, the highest percentile with at least 10 samples beyond it
    (None below 20 samples), and the sample count."""
    n = len(samples)
    out = {"median": statistics.median(samples) if samples else None,
           "n": n, "pct": None, "pct_value": None}
    for permille in (999, 990, 950, 900, 750, 500):
        if n * (1000 - permille) >= 10 * 1000:
            out["pct"] = permille / 10
            out["pct_value"] = sorted(samples)[n * permille // 1000]
            break
    return out


def host_probe():
    """Wall and CPU seconds of a fixed piece of work on every core — numpy
    sorts of seeded arrays, no program code. Taken right before the JVM
    starts and right after it exits, it tells how fast the host runs around
    this run; a shared VM slows down and recovers over minutes."""
    def sorts(seed, rounds):
        a = np.random.default_rng(seed).random(PROBE_SIZE)
        b = np.empty_like(a)
        for _ in range(rounds):
            b[:] = a
            b.sort()
    n = os.cpu_count()
    with ThreadPoolExecutor(n) as pool:
        list(pool.map(sorts, range(n), [1] * n))  # warm-up: threads, pages
        c0, t0 = time.process_time(), time.perf_counter()
        list(pool.map(sorts, range(n), [PROBE_ROUNDS] * n))
        return time.perf_counter() - t0, time.process_time() - c0


def end_to_end(res, setup_s, probes):
    """Timings at the reference host speed: wall times (set-up included)
    are divided by the probes' wall-time slowdown against PROBE_REF, CPU
    times by their CPU-time slowdown."""
    units = res["units"]
    wall_f = statistics.mean(p[0] for p in probes) / PROBE_REF[0]
    cpu_f = statistics.mean(p[1] for p in probes) / PROBE_REF[1]
    detail = {"setup_s": summarize([setup_s / wall_f]),
              "wall_s": summarize([u["wall_s"] / wall_f for u in units]),
              "cpu_s": summarize([u["cpu_s"] / cpu_f for u in units])}
    metrics = {k: {"value": detail[k]["median"], "unit": u}
               for k, u in END_TO_END.items()}
    detail["raw"] = {"setup_s": setup_s,
                     "wall_s": statistics.median(u["wall_s"] for u in units),
                     "cpu_s": statistics.median(u["cpu_s"] for u in units)}
    detail["host_factor"] = {"wall": wall_f, "cpu": cpu_f}
    return metrics, detail


def trace_overhead(res):
    """Median over traced units of traced wall time minus the mean wall
    time of the plain units right before and after it."""
    plain = {u["i"]: u["wall_s"] for u in res["units"]}
    return statistics.median(
        t["wall_s"] - statistics.mean(plain[j] for j in (t["i"] - 1, t["i"] + 1)
                                      if j in plain)
        for t in res["traced_units"])


def per_layer(workload, res, attempted, failed):
    values = {k: 0.0 for k in PER_LAYER}
    traced = res["traced_units"]
    if traced:
        for k in traced[0]["metrics"]:
            values[k] = statistics.median(t["metrics"][k] for t in traced)
        values[f"{workload}.trace_overhead_s"] = trace_overhead(res)
        if workload == "analytics":
            warm = statistics.median(u["build_s"] for u in res["units"] + traced)
            values["analytics.cold_build_s"] = res["cold_build_s"] - warm
    values["failed_ratio"] = failed / attempted
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


# ---------------------------------------------------------------- main

def run(args):
    classpath = build()
    probes = [host_probe()]
    started = time.time()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        cfg = make_inputs(args, work / "input")
        cfg.update({"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace})
        (work / "config.json").write_text(json.dumps(cfg))
        res = run_jvm(classpath, work, JVM_TIMEOUT_S - (time.time() - started))
        probes.append(host_probe())
        for e in res["errors"]:
            log(f"FAILED {e}")
        if not res.get("units"):
            raise Failure("no measured unit completed", 5)
        setup_s = res["ready_epoch_ms"] / 1000.0 - started
        errors = checks.check(args.workload, res, work)
        for e in errors[:20]:
            log(f"FAILED {e}")
        attempted = res["attempted"]
        failed = min(attempted, res["failed"] + len(errors))
        if args.trace:
            metrics = per_layer(args.workload, res, attempted, failed)
            detail = {}
            spans = BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
            spans.parent.mkdir(parents=True, exist_ok=True)
            spans.write_text(json.dumps(
                [t.get("spans", []) for t in res["traced_units"]]))
            detail["spans_file"] = str(spans.relative_to(ROOT))
        else:
            metrics, detail = end_to_end(res, setup_s, probes)
        detail["inputs"] = {k: cfg[k] for k in ("drifted", "drift_column", "order")
                            if k in cfg}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "detail": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows-per-month", type=int, default=ROWS_PER_MONTH,
                    help="migrate/resync table size (self-tests shrink it)")
    ap.add_argument("--inject-failure", metavar="QUERY",
                    help="make one analytics query throw (self-test)")
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM (see run_jvm) and cleans up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except Failure as e:
        log(f"error: {e}")
        return e.code


if __name__ == "__main__":
    sys.exit(main())
