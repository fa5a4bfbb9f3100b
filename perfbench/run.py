"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_steady --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: it imports the engine package from
the current directory and writes only under `.perfbench_work/` there.
With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the Spark event log is on and it carries the per-layer
metrics instead. The line before it is a provenance record (host steal
jiffies, driver JVM GC ms, threads, window length).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s",
    "query_cpu_ms": "ms",
    "recall_at_10": "ratio",
    "write_cpu_ms": "ms",
    "fold_cpu_s": "s",
    "compact_cpu_s": "s",
    "rebuild_cpu_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}
STORAGE = ("changelog_files", "tail_rows", "fold_overlay_dirs", "index_bytes", "snapshot_bytes")
STORAGE_UNITS = {"index_bytes": "bytes", "snapshot_bytes": "bytes", "tail_rows": "rows"}
ACCOUNTED_CALLS = ("collection.topk_two_phase", "collection.refresh_indexes")
MAX_ACCOUNTING_ERR = 0.10


def host_steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies of the host (/proc/stat, field 8)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def jvm_gc_ms(spark) -> int:
    """Cumulative GC milliseconds of the driver JVM."""
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:  # noqa: BLE001 — JVM gone
        return -1


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(root: str, work: str, cpus: int) -> None:
    """local[cpus], scratch dirs inside the checkout, modest driver
    heap."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM puts it in the system temp dir whatever
    # java.io.tmpdir says, outside the checkout
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the engine from the checkout
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already down
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout_s: float = 30.0) -> None:
    """Terminate and wait for any child process still alive (e.g. the
    engine's k-means training pool), so the run leaves nothing behind."""
    pids: set[int] = set()
    for f in glob.glob(f"/proc/{os.getpid()}/task/*/children"):
        try:
            with open(f) as fh:
                pids.update(int(p) for p in fh.read().split())
        except OSError:
            pass
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + timeout_s
    for pid in pids:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.time() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.05)
        except ChildProcessError:
            pass  # already reaped


def layer_metrics(run, trace_mod, tracer, log_dir: str, steal: int, gc: int):
    """Per-layer metrics of a traced run. Also checks that, for the calls
    in ACCOUNTED_CALLS, driver time plus job-covered time accounts for
    each call's wall within MAX_ACCOUNTING_ERR (a failed check if not)."""
    jobs, stages = trace_mod.read_event_log(log_dir)
    metrics, acct = trace_mod.summarize(tracer.spans, jobs, stages)
    worst = max((acct.get(c, 0.0) for c in ACCOUNTED_CALLS), default=0.0)
    run.outcome(worst <= MAX_ACCOUNTING_ERR, f"job-time accounting off by {worst:.1%}")
    for key in ("n_touched", "n_reencoded", "n_lists_rewritten"):
        vals = [int(r.get(key, 0)) for r in run.refresh_counts]
        metrics[f"collection.refresh_indexes.{key}"] = (
            statistics.median(vals) if vals else 0.0, "count"
        )
    plans = run.plans
    metrics["collection.plan_filtered_strategy.pre_share"] = (
        sum(p == "pre" for p in plans) / len(plans) if plans else 0.0, "ratio"
    )
    ticks = run.ticks
    metrics["maintenance.tick.wall_ms"] = (
        1000 * statistics.median([t for t, _ in ticks]) if ticks else 0.0, "ms"
    )
    metrics["maintenance.tick.folds"] = (sum(f for _, f in ticks), "count")
    for key in STORAGE:
        vals = [s[key] for s in run.storage_samples]
        metrics[f"storage.{key}"] = (
            statistics.median(vals) if vals else 0.0, STORAGE_UNITS.get(key, "count")
        )
    metrics["host.steal_jiffies"] = (steal, "jiffies")
    metrics["driver.jvm_gc_ms"] = (gc, "ms")
    return metrics, worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="corpus size override")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "write_optimized_vector_database_spark")):
        print("perfbench: run from the root of a source checkout "
              "(write_optimized_vector_database_spark/ not found)", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, root, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root: str, work: str, workloads) -> int:
    """One run in the work dir `work`: print the provenance line, then
    the result line."""
    cpus = cpu_count()
    prepare_env(root, work, cpus)
    sys.path.insert(0, root)

    import tracing as trace_mod

    from write_optimized_vector_database_spark.session import get_spark

    knobs = dict(workloads.KNOBS)
    if args.rows:
        knobs["rows"] = args.rows
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update(trace_mod.event_log_conf(log_dir))
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = trace_mod.Tracer(spark, enabled=bool(args.trace))
        tracer.patch_operators()
        run = workloads.Run(spark, tracer, work, args.seed, knobs)
        steal0, gc0 = host_steal_jiffies(), jvm_gc_ms(spark)
        t0 = time.time()
        out = workloads.WORKLOADS[args.workload](run, args.seconds)
        wall = time.time() - t0
        steal, gc = host_steal_jiffies() - steal0, jvm_gc_ms(spark) - gc0
        tracer.unpatch()
    finally:
        stop_spark(spark)
        reap_children()

    accounting_err = None
    if args.trace:
        metrics, accounting_err = layer_metrics(run, trace_mod, tracer, log_dir, steal, gc)
    else:
        metrics = {k: (out[k], u) for k, u in E2E_UNITS.items()}
    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "rows": knobs["rows"], "run_wall_s": round(wall, 3),
        "window_s": round(out["_window_s"], 3), "batch_walls_s": out["_batch_walls"],
        "query_p50_ms": round(out["_query_p50_ms"], 1),
        "write_batches": out.get("_writes", 0),
        "cpu_s": {k: [round(x, 2) for x in v] for k, v in run.cpu.items()},
        "host_steal_jiffies": steal, "driver_jvm_gc_ms": gc,
        "job_accounting_err": accounting_err,
        "errors": run.errors,
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a run whose every sample failed has no value; it already reads
        # correct: false, and JSON has no NaN
        "metrics": {
            k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
