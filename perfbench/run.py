#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload stream_causal_once --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. A run

1. sets up: starts a host-sized Spark session, warms it, and generates
   and stages the seeded inputs (three copies; ``setup_s`` counts the
   session start, the warm-up and the median copy);
2. runs whole units of the workload's work until ``--seconds`` have
   passed and the workload's ``min_units`` ran, each unit on a fresh
   copy of the inputs;
3. checks every output outside the timed region;
4. prints a detail line, then as its last stdout line
   ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
   per-layer metrics (``--trace 1``).

A traced run times an untraced unit, a traced unit and an untraced
unit again. The per-layer metrics come from the traced one. Its wall
time minus the mean of the two untraced units' is the tracing overhead,
with half their difference as its noise, in the detail line; a traced
unit that issues a different number of SQL executions than the first
untraced unit fails its check. Spans and the detail are written to
``perfbench/.work/out/``. Progress goes to stderr, one JSON line per
operation.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_COPIES = 3


class Log:
    """One JSON line per operation on stderr."""

    def __init__(self, workload: str):
        self.workload = workload
        self.phase = "setup"
        self.t0 = time.perf_counter()

    def __call__(self, **fields) -> None:
        rec = {"workload": self.workload, "phase": self.phase,
               "t": round(time.perf_counter() - self.t0, 3), **fields}
        print(json.dumps(rec), file=sys.stderr, flush=True)


def host_session_conf(work: str) -> tuple[int, int, dict]:
    """Cores, Spark driver heap (GiB) and Spark confs for this host: all
    usable cores, half the physical RAM up to 8 GiB, and every scratch
    path inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = max(1, min(8, int(ram_gib // 2)))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    return cpus, heap, conf


def warm(spark) -> None:
    """First job of the session plus the ICU collation load Spark 4
    pays on first upper/lower use. benchlib.warm_session also runs the
    flagship query and a mapInPandas pass (~11 s on a 4-core host),
    more than the run budget carries; those costs land in each
    workload's first operation instead."""
    spark.sql("SELECT upper('x'), lower('X')").collect()


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".work", "out")
    for d in (work, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        return _run(args, spec, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: str, out_dir: str) -> int:
    import duckdb
    import pyspark

    from distributed_causal_stream_processing_spark import all_oracle_sql, all_queries
    from distributed_causal_stream_processing_spark.session import get_spark
    from layers import Tracer, jvm_peak_rss_mb, median, tail
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]
    log = Log(wl.name)
    cpus, heap, conf = host_session_conf(work)

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cpus, extra_conf=conf)
    start_s = time.perf_counter() - t0
    log(op="session.start", s=round(start_s, 4), ok=True)
    try:
        queries = all_queries()
        dirs, copy_s = [], []
        for i in range(SETUP_COPIES):
            d = os.path.join(work, f"input{i}")
            t0 = time.perf_counter()
            wl.stage(args.seed, d)
            copy_s.append(time.perf_counter() - t0)
            dirs.append(d)
            log(op=f"stage.copy{i}", s=round(copy_s[-1], 4), ok=True)
        t0 = time.perf_counter()
        warm(spark)
        warmup_s = time.perf_counter() - t0
        log(op="session.warmup", s=round(warmup_s, 4), ok=True)
        setup_s = start_s + warmup_s + median(copy_s)

        ctx = Ctx(spark, queries, all_oracle_sql(), work, log)
        log.phase = "prepare"
        attempted, failed = wl.prepare(ctx, dirs[0])

        units, traced = [], None
        t_measure = time.perf_counter()
        for i in itertools.count(1):
            if i >= len(dirs):
                dirs.append(os.path.join(work, f"input{i}"))
                wl.stage(args.seed, dirs[-1])
            if args.trace and i == 2:
                log.phase = "traced"
                tracer = Tracer(True)
                traced = (dirs[i], wl.unit(ctx, dirs[i], tracer), tracer)
                continue
            log.phase = "timed"
            units.append((dirs[i], wl.unit(ctx, dirs[i], Tracer(False))))
            if args.trace:
                if i == 3:
                    break
            elif (len(units) >= wl.min_units
                  and time.perf_counter() - t_measure >= args.seconds):
                break
        rss_mb = jvm_peak_rss_mb(spark)

        log.phase = "check"
        for d, res in units + ([traced[:2]] if traced else []):
            attempted += res.attempted
            failed += res.failed + wl.check(ctx, d, res)
        if traced:
            attempted += 1
            if traced[1].sql_executions != units[0][1].sql_executions:
                failed += 1
                log(op="trace.sql_executions", ok=False,
                    error=f"traced {traced[1].sql_executions} vs "
                    f"untraced {units[0][1].sql_executions}")
    finally:
        stop_session(spark)

    latencies = [x for _, r in units for x in r.latencies]
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": median([r.wall_s for _, r in units]),
        "op_p50_s": median(latencies),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "cores": cpus,
            "driver_heap_gib": heap,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "units": len(units),
        "latencies_s": latencies,
        "setup": {"session.start_s": start_s, "session.warmup_s": warmup_s,
                  "stage_copies_s": copy_s},
        f"{wl.op}_p50_s": end_to_end["op_p50_s"],
        f"{wl.op}_tail_s": tail(latencies),
        "jvm_rss_mb": rss_mb,
        **end_to_end,
    }
    first = units[0][1]
    if "events" in first.layer:
        detail["events_per_s"] = median([r.layer["events"] / r.wall_s for _, r in units])
    if "index_build_s" in first.layer:
        detail["index_build_s"] = median([r.layer["index_build_s"] for _, r in units])
    if traced:
        _, tres, tracer = traced
        layer = {"session.start_s": start_s, "session.warmup_s": warmup_s,
                 "jvm.rss_peak_mb": rss_mb, "trace.self_s": tracer.own_s,
                 **tracer.counts, **tres.layer}
        if "io.load_calls" in layer:
            layer["io.load_s"] = tracer.total_s("io.load")
        untraced = [r.wall_s for _, r in units]
        detail["per_layer"] = layer
        detail["trace_overhead"] = {
            "untraced_wall_s": untraced,
            "traced_wall_s": tres.wall_s,
            "overhead_s": tres.wall_s - statistics.mean(untraced),
            "noise_s": (max(untraced) - min(untraced)) / 2,
            "self_s": tracer.own_s,
            "sql_executions": [tres.sql_executions] + [r.sql_executions for _, r in units],
            "spans": len(tracer.spans),
        }
        # the result line must carry every per-layer metric as a number;
        # a layer this workload does not call reads 0 and is named here
        detail["not_exercised"] = [m["name"] for m in spec["per_layer"]
                                   if m["name"] not in layer]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        spans = tracer.spans
    else:
        metrics = {m["name"]: {"value": float(end_to_end[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        spans = []
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump({"detail": detail, "metrics": metrics, "spans": spans}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
