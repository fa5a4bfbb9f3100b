"""Per-layer tracing from outside the engine.

Three sources, none of which edits engine code:

- **spans**: the benchmark wraps each public call it makes (and, in the
  traced run only, the operator builders those calls look up as module
  attributes) in a span that also sets a Spark job group, so every job
  Spark runs is tagged with the span that submitted it;
- **Spark's event log**: job start/end times, stage ids per job and the
  stage accumulables (executor run/CPU time, GC, I/O and shuffle bytes,
  the Python-worker timers and byte counters);
- **return values and file listings**, sampled by the workloads.

Spans stay in memory; `summarize` joins them with the event log once
the SparkContext has stopped and the log is complete.
"""

from __future__ import annotations

import glob
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"

# public calls whose per-call Spark work is reported
CALLS = (
    "api.run_batch",
    "collection.topk_two_phase",
    "collection.ingest",
    "collection.refresh_indexes",
    "collection.compact",
    "collection.build_indexes",
)
CALL_METRICS = (
    ("wall_ms", "ms"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("driver_ms", "ms"),
    ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"),
    ("gc_ms", "ms"),
    ("input_bytes", "bytes"),
    ("output_bytes", "bytes"),
    ("shuffle_bytes", "bytes"),
    ("py_start_ms", "ms"),
    ("py_run_ms", "ms"),
    ("py_bytes_out", "bytes"),
    ("py_bytes_in", "bytes"),
)

# Counters that read 0 on every workload, so not reported:
# - Python-worker timers and byte counters of calls whose own jobs run no
#   Python UDF (topk_two_phase, ingest, compact), and run_batch's worker
#   start time (its workers are already started by the warm-up batch);
# - topk_two_phase's I/O, shuffle and GC counters: its plan runs in the
#   caller's job (run_batch collects it), its own jobs are tiny eager ones;
# - run_batch's output bytes (it collects, it writes nothing) and
#   ingest's GC time;
# - the self time of the raw-code PQ scan, which a residual index (the
#   build_indexes default) never calls.
NOT_REPORTED = {
    "api.run_batch.output_bytes",
    "api.run_batch.py_start_ms",
    "collection.topk_two_phase.gc_ms",
    "collection.topk_two_phase.input_bytes",
    "collection.topk_two_phase.output_bytes",
    "collection.topk_two_phase.shuffle_bytes",
    "collection.topk_two_phase.py_start_ms",
    "collection.topk_two_phase.py_run_ms",
    "collection.topk_two_phase.py_bytes_out",
    "collection.topk_two_phase.py_bytes_in",
    "collection.ingest.gc_ms",
    "collection.ingest.py_start_ms",
    "collection.ingest.py_run_ms",
    "collection.ingest.py_bytes_out",
    "collection.ingest.py_bytes_in",
    "collection.compact.py_start_ms",
    "collection.compact.py_run_ms",
    "collection.compact.py_bytes_out",
    "collection.compact.py_bytes_in",
    "operators.pq.pq_adc_topk.self_ms",
}

# operator builders: (metric prefix, defining module, attribute, other
# modules that hold the same function under the same name)
_PKG = "write_optimized_vector_database_spark"
OPERATORS = (
    ("operators.ivfpq.ivfpq_adc_topk", "operators.ivfpq", "ivfpq_adc_topk", ()),
    ("operators.pq.pq_adc_topk", "operators.pq", "pq_adc_topk", ()),
    ("operators.topk.exact_topk", "operators.topk", "exact_topk", ("collection",)),
    ("operators.compaction.latest_by_id", "operators.compaction", "latest_by_id", ()),
    (
        "operators.filters.apply_query_filters",
        "operators.filters",
        "apply_query_filters",
        ("collection",),
    ),
    ("operators.ivf.train_centroids_kmeans", "operators.ivf", "train_centroids_kmeans", ()),
    (
        "functions.kmeans_pool.kmeans_subspaces",
        "functions.kmeans_pool",
        "kmeans_subspaces",
        ("operators.pq",),
    ),
)

# stage accumulables -> (metric, scale to the metric's unit)
_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_ms", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.input.bytesRead": ("input_bytes", 1.0),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1.0),
    "time to start Python workers": ("py_start_ms", 1.0),
    "time to initialize Python workers and start running": ("py_start_ms", 1.0),
    "time to run Python workers": ("py_run_ms", 1.0),
    "data sent to Python workers": ("py_bytes_out", 1.0),
    "data returned from Python workers": ("py_bytes_in", 1.0),
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """SparkSession conf for an uncompressed, non-rolling event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans around public calls and operator builders.

    A disabled tracer still times calls (the workloads need the walls)
    but sets no job group and wraps nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        """Time one call. When enabled, its Spark jobs run under a job
        group named after the span (nested spans get their own group and
        restore the parent's on exit)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "name": name,
            "kind": kind,
            "gid": f"pb{next(self._ids)}",
            "parent": parent["gid"] if parent else None,
            "t0": time.time(),
            "t1": None,
        }
        if self.enabled:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, sp["gid"])
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            stack.pop()
            if self.enabled:
                self.sc.setLocalProperty(JOB_GROUP, prev)
                with self._lock:
                    self.spans.append(sp)

    def timed(self, name: str, fn, *args, **kwargs):
        """Run fn under a span; return (result, wall seconds)."""
        with self.span(name) as sp:
            out = fn(*args, **kwargs)
        return out, sp["t1"] - sp["t0"]

    # -- operator wrapping (traced run only) ------------------------------

    def _wrap(self, fn, name: str, kind: str, on_call=None):
        """fn, recording a span when called inside a traced call; with
        `on_call(result)`, also observe every result."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer._stack():
                out = fn(*args, **kwargs)
            else:
                with tracer.span(name, kind=kind):
                    out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(out)
            return out

        return wrapper

    def patch_operators(self) -> None:
        """Replace each operator builder by a span-recording wrapper in
        every module the engine looks it up from."""
        if not self.enabled:
            return
        for name, mod, attr, also in OPERATORS:
            owner = importlib.import_module(f"{_PKG}.{mod}")
            fn = getattr(owner, attr)
            wrapped = self._wrap(fn, name, "op")
            for m in (mod, *also):
                mobj = importlib.import_module(f"{_PKG}.{m}")
                if getattr(mobj, attr, None) is fn:
                    self._patched.append((mobj, attr, fn))
                    setattr(mobj, attr, wrapped)

    def patch_method(self, obj, attr: str, name: str, on_call=None) -> None:
        """Wrap a bound method on one instance (e.g. the collection's
        topk_two_phase, which api.run_batch looks up on the instance)."""
        if self.enabled:
            setattr(obj, attr, self._wrap(getattr(obj, attr), name, "call", on_call))

    def unpatch(self) -> None:
        for mobj, attr, fn in reversed(self._patched):
            setattr(mobj, attr, fn)
        self._patched.clear()


# -- event log ------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the (single) event log in `log_dir` into
    jobs {job_id: {group, t0, t1, stages}} and
    stages {stage_id: {tasks, <metric>: value}} for completed stages."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(JOB_GROUP),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Failure Reason"):
                    continue
                m = {"tasks": int(info.get("Number of Tasks", 0))}
                for acc in info.get("Accumulables") or []:
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        metric, scale = key
                        m[metric] = m.get(metric, 0.0) + _num(acc.get("Value")) * scale
                # a stage attempt re-run replaces the earlier one
                stages[info["Stage ID"]] = m
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


def summarize(spans: list[dict], jobs: dict, stages: dict) -> tuple[dict, dict]:
    """Per-layer metrics from spans + event log.

    Returns (metrics, checks): metrics maps `<call>.<metric>` to the
    median over calls (operator metrics: per enclosing public call);
    checks carries the worst job-time accounting error per call name."""
    by_gid = {s["gid"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def subtree(gid: str) -> list[str]:
        out, todo = [], [gid]
        while todo:
            g = todo.pop()
            out.append(g)
            todo.extend(c["gid"] for c in children.get(g, ()))
        return out

    jobs_by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["group"] in by_gid and j["t1"] is not None:
            jobs_by_group.setdefault(j["group"], []).append(j)

    per_call: dict[str, list[dict]] = {c: [] for c in CALLS}
    worst_acct: dict[str, float] = {}
    for s in spans:
        if s["name"] not in per_call:
            continue
        gids = subtree(s["gid"])
        js = [j for g in gids for j in jobs_by_group.get(g, ())]
        wall = (s["t1"] - s["t0"]) * 1000.0
        covered = _union_ms([(j["t0"], j["t1"]) for j in js])
        clipped = _union_ms(
            [(max(j["t0"], s["t0"]), min(j["t1"], s["t1"])) for j in js
             if j["t1"] > s["t0"] and j["t0"] < s["t1"]]
        )
        driver = wall - clipped
        # job-covered time as the event log reports it, plus driver time,
        # should account for the span's wall; a job outside its span
        # (mis-attributed group, clock skew) shows as an error here
        if wall > 0:
            err = abs(driver + covered - wall) / wall
            worst_acct[s["name"]] = max(worst_acct.get(s["name"], 0.0), err)
        row = {"wall_ms": wall, "jobs": len(js), "driver_ms": driver}
        st_ids = {sid for j in js for sid in j["stages"] if sid in stages}
        row["stages"] = len(st_ids)
        for key in ("tasks",) + tuple(m for m, _ in CALL_METRICS[5:]):
            row[key] = sum(stages[sid].get(key, 0.0) for sid in st_ids)
        per_call[s["name"]].append(row)

    metrics: dict[str, tuple[float, str]] = {}
    for call, rows in per_call.items():
        for key, unit in CALL_METRICS:
            vals = [r[key] for r in rows]
            metrics[f"{call}.{key}"] = (statistics.median(vals) if vals else 0.0, unit)
    metrics = {k: v for k, v in metrics.items() if k not in NOT_REPORTED}

    # operator builders: per enclosing public call, count and self time
    op_names = [o[0] for o in OPERATORS]
    per_op: dict[str, list[tuple[int, float]]] = {n: [] for n in op_names}
    public = [s for s in spans if s["parent"] is None]
    for s in public:
        tally = {n: [0, 0.0] for n in op_names}
        for g in subtree(s["gid"]):
            sp = by_gid[g]
            if sp["kind"] != "op":
                continue
            kids = [(c["t0"], c["t1"]) for c in children.get(g, ())]
            self_ms = (sp["t1"] - sp["t0"]) * 1000.0 - _union_ms(kids)
            # eager jobs under the operator's own group are part of its
            # self time already (they run inside its interval)
            tally[sp["name"]][0] += 1
            tally[sp["name"]][1] += self_ms
        for n, (c, ms) in tally.items():
            if c:
                per_op[n].append((c, ms))
    for n, vals in per_op.items():
        # invocations per enclosing public call that used the builder
        metrics[f"{n}.calls"] = (
            sum(c for c, _ in vals) / len(vals) if vals else 0.0, "count"
        )
        if f"{n}.self_ms" not in NOT_REPORTED:
            metrics[f"{n}.self_ms"] = (
                statistics.median([ms for _, ms in vals]) if vals else 0.0, "ms"
            )
    return metrics, worst_acct
