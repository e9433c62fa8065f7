"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload elt_incremental --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from the seed,
starts a local[4] Spark session through the package's ``get_spark``,
times the workload's ops for about ``--seconds`` seconds, checks the
outputs, and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Everything it writes lives under ``.perfbench_work/`` in
the working directory and is removed at exit. See perfbench/README.md.
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

END_TO_END = {"setup_s": "s", "op_mean_s": "s", "op_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    from workloads import MART_QUERIES

    units = {
        "session.start_s": "s", "session.catalog_load_s": "s", "session.warmup_s": "s",
        "plans.build_s": "s", "plans.build_p50_s": "s", "plans.build_jobs": "count",
        "plans.py4j_calls": "count", "plans.plan_s": "s",
        "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
        "exec.core_util": "ratio", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
        "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
        "mat.persisted_rdds_left": "count", "mat.temp_views_left": "count",
        "sheets.load_s": "s", "elt.incremental_s": "s", "staging.normalize_build_s": "s",
        "streaming.merge_s": "s", "sinks.staging_bytes_per_row": "B",
        "sinks.raw_bytes_per_row": "B", "elt.jobs_per_batch": "count",
        "elt.tasks_per_batch": "count", "elt.upsert_ratio": "ratio",
        "elt.rows_per_s": "1/s", "elt.base_load_s": "s", "elt.warmup_last_s": "s",
        "trace.collector_s": "s", "peak_rss_mb": "MB",
    }
    for q in MART_QUERIES:
        units[f"q.{q}.build_s"] = "s"
        units[f"q.{q}.exec_s"] = "s"
        units[f"q.{q}.jobs"] = "count"
        units[f"q.{q}.rdds_left"] = "count"
    return units


def cpu_snapshot() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reference that
    is recorded beside each run, not used in any metric."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the process wait follows
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class Context:
    def __init__(self, spark, tracer, seed, seconds, work, plant_fault):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.work, self.plant_fault = seconds, work, plant_fault
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the driver JVM."""
        t = os.times()
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["elt_incremental", "mart_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: corrupt one checked value; the run must report it")
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def measure(args, work: str) -> int:
    prepare_environment(work)
    # Fails here, before any output, where the package is absent.
    import chilekids_etl_pipeline_spark  # noqa: F401
    import workloads
    from chilekids_etl_pipeline_spark.session import get_spark
    from collectors import Tracer

    cpu0, load0 = cpu_snapshot(), os.getloadavg()[0]
    host_speed = python_loop_s()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    tracer = Tracer(spark, bool(args.trace))
    ctx = Context(spark, tracer, args.seed, args.seconds, work, args.plant_fault)
    try:
        run = getattr(workloads, args.workload)(ctx)
        layers = dict(run.layers)
        if tracer.on:
            layers.update(traced_layers(tracer, run))
        layers["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(ctx.jvm_pid)
    finally:
        stop_spark(spark)
    cpu1 = cpu_snapshot()

    bad = {name for name, _ in run.check_errors}
    times = [dt for _, dt, _ in run.ops]
    failed = sum(1 for name, _, ok in run.ops if not ok or name in bad)
    attempted = len(run.ops)
    layers["session.start_s"] = t1 - t0
    if args.workload == "elt_incremental":
        layers["elt.rows_per_s"] = run.rows_offered / sum(times)
    values = {
        "setup_s": (t1 - t0) + run.setup_s,
        "op_mean_s": sum(times) / len(times),
        "op_cpu_s": run.cpu_s / len(times),
    }
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    d = [b - a for a, b in zip(cpu0, cpu1)]
    host = {"cpus": os.cpu_count(), "spark_cores": CPUS, "python_loop_s": round(host_speed, 4),
            "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / max(1, sum(d)),
            "loadavg_start": load0, "loadavg_end": os.getloadavg()[0],
            "ops": attempted, "failed_ops": failed, "op_p50_s": statistics.median(times),
            "failed_op_frac": failed / attempted,
            "peak_rss_mb": round(layers["peak_rss_mb"], 1),
            "end_to_end": {k: round(v, 6) for k, v in values.items()}}
    for name, why in run.check_errors:
        print(f"CHECK FAILED {name}: {why}")
    print("host " + json.dumps(host))
    print(json.dumps({"correct": failed == 0 and not run.check_errors,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def traced_layers(tracer, run) -> dict[str, float]:
    """Per-op layer metrics from the collectors of a traced run."""
    ops = tracer.ops
    n = max(1, len(ops))
    stage = tracer.stage_metrics(ops)
    wall = sum(dt for _, dt, _ in run.ops)

    def mean(key: str) -> float:
        return statistics.mean(tracer.timers.get(key, [0.0]))

    out = {
        "plans.build_s": mean("plans.build_s"),
        "plans.build_p50_s": statistics.median(tracer.timers.get("plans.build_s", [0.0])),
        "plans.build_jobs": mean("plans.build_jobs"),
        "plans.py4j_calls": mean("plans.py4j_calls"),
        "plans.plan_s": mean("plans.plan_s"),
        "exec.wall_s": mean("exec.wall_s"),
        "exec.jobs": sum(op["jobs"] for op in ops) / n,
        "exec.stages": stage["stages"] / n,
        "exec.tasks": stage["tasks"] / n,
        "exec.executor_run_s": stage["executor_run_s"] / n,
        "exec.executor_cpu_s": stage["executor_cpu_s"] / n,
        "exec.core_util": stage["executor_cpu_s"] / (wall * CPUS),
        "exec.gc_s": stage["gc_s"] / n,
        "exec.shuffle_read_mb": stage["shuffle_read_mb"] / n,
        "exec.shuffle_write_mb": stage["shuffle_write_mb"] / n,
        "exec.spill_mb": stage["spill_mb"] / n,
        "trace.collector_s": tracer.collect_s / n,
        "mat.persisted_rdds_left": sum(op["rdds_left"] for op in ops) / n,
        "mat.temp_views_left": sum(op["views_left"] for op in ops) / n,
    }
    for key, vals in tracer.timers.items():
        if key.startswith(("q.", "sheets.", "elt.", "staging.", "streaming.")):
            out[key] = statistics.median(vals)
    if any(op["name"] == "elt.batch" for op in ops):
        out["elt.tasks_per_batch"] = stage["tasks"] / n
    return out


if __name__ == "__main__":
    sys.exit(main())
