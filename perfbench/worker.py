"""One measuring process of the benchmark: a fresh driver, as a user's
``shifu <step>`` invocation would start.

It starts the session (set-up), runs one cold pass, then warm passes until
``--seconds`` have passed, checks every pass's output, and writes its
figures as JSON to ``--out``. ``--prep`` builds the workload's set-up
artifacts instead. Started by run.py, never imported by it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import gen
import tracing
import workloads as W


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full GC: what the passes
    leave live (their jobs' status-store records, cached or leaked data,
    broadcast models). Unlike RSS it does not follow the heap cap."""
    gc.collect()  # drop Python proxies of finished DataFrames first
    jvm = spark._jvm
    # the first GC lets Spark's ContextCleaner find the broadcasts and
    # blocks the passes dropped; the second frees what it then removed
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def start_session(tracer):
    """``session.get_spark`` plus one trivial job: what every step pays
    before its first real job."""
    from shifu_spark import session

    if tracer is not None:
        tracer.install()
        tracer.active = True
    t = time.time()
    spark = session.get_spark(app_name="perfbench")
    session_wall = time.time() - t
    spark.range(1).count()
    if tracer is not None:
        tracer.active = False
        tracer.uninstall()
    return spark, session_wall


def run_pass(ctx, tracer, traced: bool) -> dict:
    """One timed pass plus its output check. A pass that raises or fails
    its check counts as failed; its wall time is still recorded."""
    sc = ctx.spark.sparkContext
    if traced:
        tracer.install()
        tracer.active = True
    t = time.perf_counter()
    out, err = None, None
    try:
        if traced:
            with tracer.span(tracing.PASS, ctx.workload):
                out = W.PASSES[ctx.workload](ctx)
        else:
            out = W.PASSES[ctx.workload](ctx)
    except Exception:  # a failed pass is a result, not a crash
        err = traceback.format_exc()
    wall = time.perf_counter() - t
    if traced:
        tracer.active = False
        tracer.uninstall()
    auc = None
    if err is None:
        try:
            errs, auc = W.CHECKS[ctx.workload](ctx, out)
            err = "; ".join(errs) or None
        except Exception:
            err = traceback.format_exc()
    if tracer is not None:
        if traced:
            tracer.collect_jobs(sc)
        else:
            tracer.skip_jobs(sc)
    if err:
        print(f"pass failed: {err}", file=sys.stderr, flush=True)
    return {"wall_s": wall, "ok": err is None, "auc": auc, "traced": traced}


def measure(args) -> dict:
    tracer = tracing.Tracer(group_prefix=f"pb{os.getpid()}") if args.trace else None
    spark, session_wall = start_session(tracer)
    setup_s = time.time() - args.spawned_at
    inputs = gen.materialize(args.workload, args.seed, os.path.join(args.cache, "inputs"))
    out_dir = os.path.join(args.cache, "out", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    tables = gen.load_tables(inputs)
    if args.workload == "stats_wide":
        tables["holdout"] = gen.holdout(args.workload, os.path.join(args.cache, "inputs"))
    ctx = W.Context(spark, args.workload, args.seed, inputs, args.artifacts, out_dir, tables)
    try:
        passes = [run_pass(ctx, tracer, traced=bool(args.trace))]
        warm_start = time.time()
        # at least one warm pass; a traced run alternates traced and
        # untraced passes, traced first, and needs one of each. Later
        # passes run faster as the JVM warms up, so this order, if
        # anything, overstates the tracing overhead.
        while True:
            n_warm = len(passes) - 1
            if n_warm >= (2 if args.trace else 1) and time.time() - warm_start >= args.seconds:
                break
            passes.append(run_pass(ctx, tracer, traced=bool(args.trace) and n_warm % 2 == 0))
        peak = jvm_peak_rss_mb(spark)
        live = jvm_live_heap_mb(spark)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()
    res = {"setup_s": setup_s, "session_wall_s": session_wall, "passes": passes,
           "peak_rss_mb": peak, "live_heap_mb": live, "input_rows": ctx.input_rows,
           "known_defects": sorted(set(ctx.known_defects))}
    if tracer is not None:
        rows = tracing.span_table(tracer.spans, tracer.jobs)
        traced = [p["wall_s"] for p in passes[1:] if p["traced"]]
        plain = [p["wall_s"] for p in passes[1:] if not p["traced"]]
        overhead = statistics.median(traced) / statistics.median(plain) - 1.0
        n_traced = sum(p["traced"] for p in passes)
        res["layers"] = tracing.layer_metrics(rows, n_traced, tracer.supersteps, session_wall, overhead)
        os.makedirs(os.path.join(args.cache, "traces"), exist_ok=True)
        tracer.dump(os.path.join(args.cache, "traces", f"{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "passes": passes})
    return res


def prep(args) -> dict:
    """Build the missing set-up artifacts from the fixed training draw."""
    from shifu_spark import session

    t = time.time()
    spark = session.get_spark(app_name="perfbench-prep")
    try:
        inputs = gen.materialize(W.ARTIFACT_WORKLOAD, W.ARTIFACT_SEED, os.path.join(args.cache, "inputs"))
        W.build_artifacts(spark, inputs, args.artifacts, W.missing_artifacts(args.workload, args.artifacts))
    finally:
        spark.stop()
    return {"artifacts_s": time.time() - t}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--cache", required=True)
    p.add_argument("--artifacts", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--prep", action="store_true")
    args = p.parse_args()
    res = prep(args) if args.prep else measure(args)
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
