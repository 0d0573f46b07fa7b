#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark client from source into .bench_build/ (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM with one Spark session
(local[nproc], shuffle partitions = nproc) driven by a single closed-loop
client, checks every output against an independent oracle, and prints a
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
records spans and Spark listener events and the metrics are per layer.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["trade_ops", "corpus_ops"]
SBT_VERSION = "1.10.0"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap (initial = maximum): peak RSS then reflects the engine's
# memory on top of a 2 GB heap instead of when G1 chose to grow the heap
# (with -Xmx alone it varied from 1.2 to 1.9 GB between seeds).
HEAP = "2g"
# Compile hot methods after a tenth of the usual invocation counts, so the
# JIT settles within the set-up's warm-up operation. At the default
# thresholds, on a 4-vCPU VM, successive 2500-trade drains took 8.1, 7.2,
# 6.7, 5.3 and 4.8 s after one warm-up drain; with this they took 5.8,
# 5.2, 5.1, 4.9, 4.8 and 4.9 s.
JIT_FLAGS = ["-XX:CompileThresholdScaling=0.1"]

# Input sizes per workload (see BENCHMARK.json for why each workload runs).
TRADES = 2500
EVENTS = 100_000
CURATION_DOCS = 200
CURATION_VECTORS = 400
REPOST_FRAC = 0.05
CRAWL_BASE = 400
CRAWL_BATCHES = 40
CRAWL_BATCH_DOCS = 200

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root: str):
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in sorted(os.walk(os.path.join(root, top))):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(root, "perfbench", "build.sbt")


def build(root: str) -> str:
    """Compile program + client; returns the runtime classpath."""
    bb = os.path.join(root, ".bench_build")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(bb, "classpath.txt")
    stamp_file = os.path.join(bb, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt_dir = os.path.join(bb, "sbt")
    os.makedirs(os.path.join(sbt_dir, "project"), exist_ok=True)
    shutil.copy(os.path.join(root, "perfbench", "build.sbt"), sbt_dir)
    with open(os.path.join(sbt_dir, "project", "build.properties"), "w") as f:
        f.write(f"sbt.version={SBT_VERSION}\n")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and client (sbt compile)")
    t0 = time.monotonic()
    p = subprocess.run(
        # sbt state stays in the build directory; the launcher's shared boot
        # directory is only read (no lock file)
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
         f"-Dperfbench.root={root}",
         f"-Dsbt.global.base={os.path.join(bb, 'sbt-global')}",
         "compile", "export Runtime/fullClasspath"],
        cwd=sbt_dir, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
          and not ln.startswith("[")]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.monotonic() - t0:.1f}s")
    return cp[-1].strip()


def generate(workload: str, seed: int, input_dir: str) -> dict:
    """Write the workload's inputs; returns the sizes passed to the JVM
    (trade_ops' trades come from TradeGen inside the client)."""
    if workload == "trade_ops":
        gen.events(seed, EVENTS, f"{input_dir}/events.parquet")
        return {"trades": TRADES}
    gen.documents(seed, CURATION_DOCS, REPOST_FRAC,
                  f"{input_dir}/documents.parquet")
    gen.embeddings(seed, CURATION_VECTORS, REPOST_FRAC,
                   f"{input_dir}/embeddings.parquet")
    gen.crawl(seed, CRAWL_BASE, CRAWL_BATCHES, CRAWL_BATCH_DOCS, REPOST_FRAC,
              f"{input_dir}/crawl")
    return {"docs": CURATION_DOCS, "vectors": CURATION_VECTORS,
            "base_docs": CRAWL_BASE, "batches": CRAWL_BATCHES,
            "batch_docs": CRAWL_BATCH_DOCS}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("no program sources under src/main/scala: run from a checkout")
        return 2
    classpath = build(root)

    setup_start = time.time()
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        sizes = generate(args.workload, args.seed, f"{run_dir}/input")
        cpus = len(os.sched_getaffinity(0))
        jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT_FLAGS,
               f"-Djava.io.tmpdir={run_dir}/tmp",
               *[x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")],
               "-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--dir", run_dir, "--cpus", str(cpus),
               *[x for k, v in sizes.items() for x in (f"--{k}", str(v))]]
        with open(f"{run_dir}/jvm.log", "w") as logf:
            p = subprocess.run(jvm, stdout=logf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, cwd=run_dir,
                               timeout=RUN_TIMEOUT_S - (time.time() - setup_start))
        if p.returncode != 0 or not os.path.exists(f"{run_dir}/result.json"):
            with open(f"{run_dir}/jvm.log") as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"client exited with {p.returncode}")
            return 1
        with open(f"{run_dir}/result.json") as f:
            result = json.load(f)
        with open(f"{run_dir}/ops.jsonl") as f:
            ops = [json.loads(ln) for ln in f if ln.strip()]
        checks = oracle.check_outputs(f"{run_dir}/out", f"{run_dir}/input")
        if "crawl.batches_processed" in result["info"]:
            checks.append(oracle.check_fingerprint_store(
                f"{run_dir}/stores/fingerprint", f"{run_dir}/input/crawl",
                result["info"]["crawl.batches_processed"]))
        try:
            report = stats.report(args.workload, result, ops, setup_start,
                                  run_dir if args.trace else None)
        except (ArithmeticError, KeyError, ValueError, OSError) as e:
            log(f"no metrics: {e!r}; failures: {result['failures']}")
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = result["attempted"] + len(checks)
    failed = result["failed"] + sum(1 for ok, _ in checks if not ok)
    for line in report["lines"]:
        print(line)
    print(f"  failed_frac {failed}/{attempted} checked operations")
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        log(f"a metric could not be measured: {metrics}")
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
