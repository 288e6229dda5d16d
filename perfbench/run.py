"""gmx benchmark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload {ingest,serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One client thread issues each operation
only after the previous one returned, on ``local[cpus]`` with ``cpus`` from
``SPARK_GRAFT_CPUS`` or the number of usable cores.  Every output is checked
against an independent answer; an operation that raises or fails its check
counts as failed.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``).  The line before it
holds the details of the run: width, tail percentile, sample counts and
per-operation medians.  Everything the run writes stays under ``.perfbench/``
in the checkout.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

from memory import PeakMemory
from stats import Tally, median, tail

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
}

JOIN_OPS = ("bbox_overlap", "point_in_bbox", "knn", "tile_join")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "setup.prereq_s": "s",
    "pipeline.wall_s": "s",
    "pipeline.executor_run_s": "s",
    "pipeline.executor_cpu_s": "s",
    "pipeline.input_bytes": "bytes",
    "pipeline.rows_out": "count",
    "pipeline.tasks": "count",
    "pipeline.boundary_ms_per_doc": "ms",
    "extract.kernel_ms_per_doc.pruned": "ms",
    "bucketed.cell_index_s": "s",
    "bucketed.centroid_index_s": "s",
    "bucketed.shuffle_write_bytes": "bytes",
    "bucketed.spill_bytes": "bytes",
    "bucketed.cells_per_doc": "count",
    "bucketed.large_rows": "count",
    "bucketed.files_written": "count",
    **{
        f"join.{op}.{m}": unit
        for op in JOIN_OPS
        for m, unit in (
            ("ms", "ms"), ("executor_cpu_s", "s"), ("shuffle_read_bytes", "bytes"),
            ("spill_bytes", "bytes"), ("jobs", "count"), ("rows_out", "count"),
            ("max_task_over_median", "ratio"),
        )
    },
    "bytes_written_per_doc": "bytes",
    "peak_mem_mb": "MB",
    "trace.op_ms_p50": "ms",
    "trace.overhead_ms_per_op": "ms",
    "harness.self_ms_per_op": "ms",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def usable_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def confine_to(work: Path) -> None:
    """Point every scratch location of Spark, its JVM and Python workers
    into ``work``; must run before the JVM starts."""

    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # a small heap keeps the run friendly to a shared host; the data is MBs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        # stage metrics are read back from the status store after the loop
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'}"),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits.
    ``spark.stop()`` alone leaves the JVM running until this process ends."""

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_op(ctx, tally, name, op, latencies, items, phase="timed"):
    """One closed-loop operation: timed call, then its untimed check."""

    t0 = time.perf_counter()
    check = None
    try:
        with ctx.tracer.span(f"op.{name}", phase=phase):
            n, check = op(ctx)
        dt = time.perf_counter() - t0
    except Exception:
        dt = time.perf_counter() - t0
        traceback.print_exc()
        tally.record(False, f"{name} raised")
    if check is not None:
        try:
            ok, why = check()
        except Exception:
            traceback.print_exc()
            ok, why = False, f"{name} check raised"
        tally.record(ok, why)
        if ok:
            items.append(n)
    latencies.setdefault(name, []).append(dt)
    return dt


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    work = OUT / f"run-{os.getpid()}"
    cache = OUT / "cache"
    cache.mkdir(parents=True, exist_ok=True)
    confine_to(work)
    try:
        return run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, cache: Path) -> int:
    from gmx.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS, Ctx
    import inputs

    cpus = usable_cpus()
    workload = WORKLOADS[args.workload]()
    tally = Tally()
    with PeakMemory() as mem:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_start = time.perf_counter() - t0
        try:
            tracer = Tracer(spark.sparkContext, bool(args.trace))
            ctx = Ctx(spark, args.seed, cpus, work, cache, tracer)
            workload.prepare(ctx)
            prereq = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                workload.setup(ctx)
                prereq.append(time.perf_counter() - t)
            rng = inputs.rng_for(args.seed, f"{args.workload}-mix")
            t = time.perf_counter()
            for name, op in workload.warmup_cycle(rng):
                run_op(ctx, tally, name, op, {}, [], phase="warmup")
            warmup = time.perf_counter() - t

            # the closed loop: whole cycles until the timed ops reach the budget
            latencies: dict[str, list[float]] = {}
            items: list[int] = []
            busy, ops = 0.0, 0
            while busy < args.seconds:
                for name, op in workload.cycle(rng):
                    busy += run_op(ctx, tally, name, op, latencies, items)
                    ops += 1
            tracer.collect_stage_metrics()
        finally:
            stop_spark(spark)
    samples = [x for xs in latencies.values() for x in xs]
    e2e = {
        "setup_s": session_start + median(prereq) + warmup,
        "work_per_s": sum(items) / busy,
    }
    op_ms_p50 = median(samples) * 1000.0
    tail_pct = tail(samples)
    details = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "trace": args.trace,
        "ops": ops, "timed_s": busy, "op_ms_p50": op_ms_p50,
        "op_ms_tail": tail_pct[1] * 1000.0 if tail_pct else None,
        "tail_percentile": tail_pct[0] if tail_pct else None,
        "op_ms_p50_by_kind": {k: median(v) * 1000.0 for k, v in latencies.items()},
        "samples_by_kind": {k: len(v) for k, v in latencies.items()},
        "setup_reps_s": prereq, "session_start_s": session_start, "warmup_s": warmup,
        "peak_mem_mb": mem.peak_mb, "failed_ratio": tally.ratio, "failures": tally.reasons[:10],
    }
    if args.trace:
        from layers import per_layer

        traces = OUT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.write(traces / f"{args.workload}-seed{args.seed}.json")
        values = per_layer(tracer, ctx.obs, session_start, warmup, prereq)
        values.update({"trace.op_ms_p50": op_ms_p50, "peak_mem_mb": mem.peak_mb})
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps(details))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
