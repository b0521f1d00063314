"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repo. One process, one client
thread, closed loop: the next op starts when the previous one ended.
Spark runs as local[N] with N the number of usable cores.

A run sets up (session start, seeded inputs, warm-up ops of the
workload's own kind, whose output is checked too), then runs ops until
``--seconds`` have passed and at least two ops have completed; the op
in flight at the deadline completes and counts. The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it lists the warm-up and
window op times, so warm-up drift is visible in every run. A traced
run also writes its spans to
``perfbench/traces/<workload>-seed<seed>.json``.

Everything the run writes lives under ``.perfbench-work/`` in the
checkout and is removed when it ends. Exits 2 without a result when
the engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_sales_analysis_etl_bi_project_spark"
ACTION_FLOOR_SAMPLES = 15
# a window of one op is one op's time
MIN_WINDOW_OPS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("etl_batch", "curation_pass"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def hygiene(work: str, cores: int) -> None:
    """Per-run environment, set before Spark or the engine is imported."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # run_etl sets the Spark log level from LOG_LEVEL (default INFO)
        LOG_LEVEL="ERROR",
    )


def start_spark(work: str):
    from retail_sales_analysis_etl_bi_project_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files, and its perf-data file (written
            # to /tmp whatever the temp dir), out of the shared /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_op(workload, tracer, label: str) -> tuple[float, str | None]:
    if tracer is not None:
        tracer.begin_op(label)
    try:
        return workload.op()
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        return 0.0, f"{type(e).__name__}: {e}"
    finally:
        if tracer is not None:
            tracer.end_op()


def cpu_jiffies() -> list[int]:
    """Aggregate CPU time counters of /proc/stat; [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between:
    on a shared host, the first thing to look at when a run is slow."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if len(delta) == 8 and sum(delta) > 0 else None


def action_floor_ms(spark) -> float:
    times = []
    for _ in range(ACTION_FLOOR_SAMPLES):
        t0 = time.perf_counter()
        spark.range(1000).count()
        times.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(times)


def measure(args, spark, work: str, cores: int, t_start: float) -> dict:
    from metrics import END_TO_END, PER_LAYER, per_layer
    from spans import Tracer
    from workloads import WORKLOADS

    seed = args.seed % 2**31
    cls = WORKLOADS[args.workload]
    tracer = Tracer(spark, cores) if args.trace else None
    workload = cls(spark, work, seed, tracer)
    errors: list[str] = []

    warmup: list[float] = []
    for i in range(cls.warmup_ops):
        lat, err = run_op(workload, None, f"warmup{i}")
        warmup.append(lat)
        if err:
            errors.append(f"warm-up op {i}: {err}")

    t_window = time.perf_counter()
    setup_s = t_window - t_start
    jiffies = cpu_jiffies()
    window: list[tuple[float, str | None]] = []
    while len(window) < MIN_WINDOW_OPS or time.perf_counter() - t_window < args.seconds:
        window.append(run_op(workload, tracer, f"op{len(window)}"))
        if window[-1][1]:
            errors.append(f"window op {len(window) - 1}: {window[-1][1]}")

    window_s = time.perf_counter() - t_window
    ok = [lat for lat, err in window if err is None]
    steal = steal_frac(jiffies, cpu_jiffies())
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "warmup_ops_s": [round(x, 4) for x in warmup],
        "window_ops_s": [round(lat, 4) for lat, _ in window],
        "window_cpu_steal_frac": None if steal is None else round(steal, 4),
        "errors": errors,
    }))
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "ops_per_s": len(ok) / window_s,
            "op_p50_s": statistics.median(ok) if ok else 0.0,
        }
        units = END_TO_END
    else:
        values = per_layer(tracer, ok, action_floor_ms(spark), workload.bronze_rows)
        units = {k: unit for k, (unit, _) in PER_LAYER.items()}
        tracer.dump(
            os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
            {
                "workload": args.workload,
                "seed": args.seed,
                "cores": cores,
                "warmup_ops_s": warmup,
                "metrics": values,
            },
        )
    return {
        "correct": not errors,
        "attempted": len(warmup) + len(window),
        "failed": len(errors),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    hygiene(work, cores)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        spark = start_spark(work)
        result = measure(args, spark, work, cores, t_start)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
