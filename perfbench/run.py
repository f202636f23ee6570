#!/usr/bin/env python3
"""Repository benchmark: bulk knowledge-graph builds on local[4].

    python3 perfbench/run.py --workload bulk_template --seed 1 \
        --seconds 30 --trace 0

Run from the repository root. One run starts one Spark driver, prepares
the workload's inputs from ``--seed`` (three times; set-up time is their
median), then repeats the bulk build (``run_pipeline``, every output
drained) while the next build still fits in ``--seconds`` (at least
once), and checks the first build's output against the ground truth. Progress
and every metric with its unit go to stderr; the last stdout line is the
JSON result. ``--trace 1`` adds a layer-by-layer build with spans and
the Spark event log, and reports the per-layer metrics instead of the
end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = 4
SETUP_REPS = 3
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def run(args: argparse.Namespace, work: str) -> dict:
    from graphiti_spark.session import get_spark

    from perfbench import workloads as W
    from perfbench.spans import (
        SPARK_METRICS,
        Tracer,
        spark_stats_by_span,
        tree_cpu_s,
        tree_peak_rss_gb,
    )

    event_dir = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1-only JIT: a one-build driver spends ~40% of its CPU in C2
        # compiler threads, whose timing varies run to run. C1 alone
        # fills the default 48 MB code cache within one build, after
        # which the JVM stops compiling, hence the larger cache.
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=256m "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    log(f"session start: {time.perf_counter() - t:.2f} s (local[{CPUS}], "
        f"driver heap {os.environ['SPARK_GRAFT_DRIVER_MEM']})")
    stopped = False
    try:
        # Set-up is reported as process-tree CPU time: its wall time is
        # mostly the latency of one small Spark job, which drifted by up
        # to 40% between sets of runs on a host with varying CPU steal.
        setup_s, setup_wall_s = [], []
        for k in range(SETUP_REPS):
            c0, t = tree_cpu_s(), time.perf_counter()
            info = W.prepare(spark, args.workload, args.seed,
                             os.path.join(work, f"input-{k}"))
            setup_wall_s.append(time.perf_counter() - t)
            setup_s.append(tree_cpu_s() - c0)
        log("set-up passes, wall (s): "
            + ", ".join(f"{x:.2f}" for x in setup_wall_s))
        log("set-up passes, CPU (s): " + ", ".join(f"{x:.2f}" for x in setup_s))
        log(f"inputs: {json.dumps({k: v for k, v in info.items() if k.startswith('n_')})}")
        episodes = W.episodes(spark, args.workload, info)

        build_s, cpu_s = [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            c0, t = tree_cpu_s(), time.perf_counter()
            out = W.build(spark, episodes)
            build_s.append(time.perf_counter() - t)
            cpu_s.append(tree_cpu_s() - c0)
            if len(build_s) == 1:
                # untimed: check the first build's output while it is cached
                t = time.perf_counter()
                checks, rows = W.check_output(
                    out, W.ground_truth(args.workload, info, episodes))
                n_triples, n_edges = rows["triples_raw"], rows["edges"]
                log(f"output: {n_triples} raw triples, {n_edges} edges "
                    f"(checked in {time.perf_counter() - t:.2f} s)")
                deadline += time.perf_counter() - t
            W.release(spark)
            if time.perf_counter() + build_s[-1] > deadline:
                break
        peak_rss_gb = tree_peak_rss_gb()
        log("build passes (s): " + ", ".join(f"{x:.2f}" for x in build_s))

        build_med = statistics.median(build_s)
        # Wall-time throughput is printed, not reported: with 5-30% CPU
        # steal on a shared 4-vCPU host its spread over seeds reached
        # 0.33, past any bound the harness allows. CPU time is steadier.
        log(f"{args.workload} triples_per_s: {n_triples / build_med:.6g} 1/s "
            f"({n_triples} raw triples, {build_med:.2f} s median build)")
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "cpu_core_s": (statistics.median(cpu_s), "s"),
            "peak_rss_gb": (peak_rss_gb, "GB"),
        }

        if args.trace:
            tracer = Tracer()
            counts = W.traced_build(spark, episodes, tracer)
            checks.append((
                "traced_build_matches",
                counts["triples_out"] == n_triples and counts["n_edges"] == n_edges,
                f"traced build: {counts['triples_out']} raw triples, "
                f"{counts['n_edges']} edges",
            ))
            metrics = W.layer_metrics(tracer, counts, build_med)
            for sp in tracer.spans:
                log("span " + json.dumps({"name": sp.name, "parent": sp.parent,
                                          "start": sp.start, "end": sp.end}))
            stop_spark(spark)  # flushes the event log
            stopped = True
            for span, stats in spark_stats_by_span(event_dir, tracer.spans).items():
                for name, unit in SPARK_METRICS:
                    metrics[f"{span}.spark.{name}"] = (stats[name], unit)
    finally:
        if not stopped:
            stop_spark(spark)

    failed = 0
    for name, ok, detail in checks:
        failed += not ok
        log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    attempted = len(build_s) + len(checks)
    log(f"error_rate: {failed / attempted:.4f} ({failed} of {attempted} "
        f"builds and checks failed)")
    for name, (value, unit) in metrics.items():
        log(f"{args.workload} {name}: {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_template", "bulk_entity_rich"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the program from the checkout; all
    # scratch files stay inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
