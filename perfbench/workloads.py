"""The benchmark's workloads, driven only through the collection's public
calls: `api.run_batch`, `VectorCollection.ingest / compact / vacuum /
build_indexes / refresh_indexes` and `maintenance.IndexMaintainer.tick`.

Every workload starts from a state built by `setup` and timed as
`setup_s`: bulk load, compact, IVF-PQ build, (serve_steady only) a small
batch folded by a maintenance tick, a ~1% unfolded tail in a few small
batches, and one warm-up query batch.

- `serve_steady`: one closed-loop client, no writes.
- `serve_interleaved`: one thread ingests two writes, reads over the
  grown tail, folds it and reads again; every read sees exactly the
  writes acked before it.
- `serve_under_ingest`: the same reader beside an open-loop writer thread
  and a maintenance thread. Not a listed workload: `api.run_batch` can
  return a duplicate row while an ingest runs beside it, so its runs
  read `correct: false` (see NOTES.md). It is kept to reproduce that.

Answers are checked after the timed window, against the generator's
model (see gen.py); a call that raises or fails a check counts as failed.
"""

from __future__ import annotations

import json
import os
import queue
import statistics
import threading
import time

import gen

# Build and query knobs. nprobe is passed explicitly on every request, so
# the engine's nprobe escalation (which only applies to a defaulted
# nprobe) never varies between runs.
KNOBS = {
    "rows": 10_000,
    "nlist": 32,
    "m": 16,
    "nbits": 6,
    "nprobe": 12,
    "top_k": 10,
    "batch_requests": 8,
    "fold_batch_ops": 100,
    "tail_ops": 100,
    "tail_batches": 3,
    "write_batch_ops": 500,
    "max_marker_requests": 4,
    # serve_interleaved: this many writes, then one fold
    "interleaved_writes": 2,
    # serve_under_ingest: the open-loop writer's schedule
    "write_period_s": 2.0,
    "writes": 6,
    "maintain_after_write": 3,
}

# serving mix, one batch of each per cycle; whole cycles are timed:
# unfiltered, a permissive tag filter (POST plan) and a selective tenant
# filter (PRE plan)
CYCLE = ("plain", "post", "pre")

SCHEMA_DDL = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)

SCORE_TOL = 1e-3
BATCH_RECALL_FLOOR = 0.5

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, plus those of reaped children) used so
    far by this process and all its live descendants: the client, the
    Spark JVM, its Python workers and the k-means training pool. Time
    the host steals from the machine is not in it."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime .. cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return total / _CLK_TCK


class Run:
    """Shared state of one workload run."""

    def __init__(self, spark, tracer, work: str, seed: int, knobs: dict):
        from write_optimized_vector_database_spark.api import QueryRequest

        self.QueryRequest = QueryRequest
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.knobs = knobs
        self.gen = gen.Generator(seed)
        self.coll_path = os.path.join(work, "collection")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self.files: dict[str, int] = {}  # every file ever listed -> size
        self.user_bytes = 0
        self.storage_samples: list[dict] = []
        self.refresh_counts: list[dict] = []
        self.plans: list[str] = []
        self.ticks: list[tuple[float, bool]] = []
        self.cpu: dict[str, list[float]] = {}  # call name -> CPU s per call
        self._qid = 0

    # -- bookkeeping ---------------------------------------------------

    def outcome(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)

    def call(self, name: str, fn, *args, check=None, deferred=False, **kwargs):
        """One public call under a span; returns (result, wall s). A raise
        counts as a failed operation (result None); otherwise `check(out)`
        -> (ok, why) decides, unless the check is `deferred` to later.
        Also records the call's CPU seconds (`tree_cpu_s`) in `self.cpu`;
        beside another thread's calls that reading includes theirs."""
        t0 = time.time()
        c0 = tree_cpu_s()
        try:
            out, wall = self.tracer.timed(name, fn, *args, **kwargs)
        except Exception as e:  # noqa: BLE001 — counted, reported
            self.outcome(False, f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None, time.time() - t0
        finally:
            cpu = tree_cpu_s() - c0
            with self._lock:
                self.cpu.setdefault(name, []).append(cpu)
        if not deferred:
            self.outcome(*(check(out) if check else (True, "")))
        return out, wall

    def next_qid(self) -> int:
        with self._lock:
            self._qid += 1
            return self._qid

    def list_files(self) -> int:
        """List the collection dir, remember every file seen; returns the
        bytes currently on disk. Files under a `_temporary` dir are an
        in-flight Spark write: they are counted once renamed into place."""
        total = 0
        for root, dirs, names in os.walk(self.coll_path):
            dirs[:] = [d for d in dirs if d != "_temporary"]
            for n in names:
                p = os.path.join(root, n)
                try:
                    s = os.path.getsize(p)
                except OSError:
                    continue  # removed while listing
                total += s
                with self._lock:
                    self.files[p] = max(s, self.files.get(p, 0))
        return total

    def sample_storage(self) -> None:
        """Storage layer, read from the files: changelog file count, rows
        in changelog files newer than the snapshot, live fold overlay
        dirs, index and snapshot bytes."""
        import pyarrow.parquet as pq

        base = self.coll_path
        snap_dir, snap_epoch = None, -1
        try:
            with open(os.path.join(base, "_CURRENT")) as f:
                snap_dir = os.path.join(base, f.read().strip())


            with open(os.path.join(snap_dir, "_SNAPSHOT_META.json")) as f:
                snap_epoch = int(json.load(f)["snapshot_epoch"])
        except (OSError, ValueError, KeyError):
            pass
        cl_files, tail_rows = 0, 0
        cl = os.path.join(base, "changelog")
        for root, _, names in os.walk(cl):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                cl_files += 1
                try:
                    md = pq.ParquetFile(os.path.join(root, n)).metadata
                except Exception:  # noqa: BLE001 — vacuumed while reading
                    continue
                hi = _max_stat(md, "epoch")
                if hi is None or hi > snap_epoch:
                    tail_rows += md.num_rows
        fold_dirs = index_bytes = snap_bytes = 0
        for d in os.listdir(base):
            full = os.path.join(base, d)
            if not os.path.isdir(full):
                continue
            if d.startswith("index_fold_"):
                fold_dirs += 1
            if d.startswith("index_"):
                index_bytes += _du(full)
            elif snap_dir and full == snap_dir:
                snap_bytes += _du(full)
        with self._lock:
            self.storage_samples.append(
                {
                    "changelog_files": cl_files,
                    "tail_rows": tail_rows,
                    "fold_overlay_dirs": fold_dirs,
                    "index_bytes": index_bytes,
                    "snapshot_bytes": snap_bytes,
                }
            )

    def new_bytes(self, before: set[str]) -> int:
        return sum(s for p, s in self.files.items() if p not in before)

    def read_ops(self, path: str):
        return self.spark.read.schema(SCHEMA_DDL).parquet(path)

    # -- serving -------------------------------------------------------

    def request(self, query, **filters):
        k = self.knobs
        return self.QueryRequest(
            query=[float(x) for x in query],
            top_k=filters.pop("top_k", k["top_k"]),
            nprobe=k["nprobe"],
            query_id=self.next_qid(),
            **filters,
        )

    def serve(self, coll, reqs: list, kind: str) -> dict:
        """One closed-loop call: run_batch and fetch the answer."""
        from write_optimized_vector_database_spark import api

        def call():
            return api.run_batch(coll, reqs, use_index=True).collect()

        t_send = time.time()
        rows, wall = self.call("api.run_batch", call, deferred=True)
        # only the reader thread calls run_batch: the last reading is this one
        return {"kind": kind, "reqs": reqs, "rows": rows, "t_send": t_send,
                "t_done": t_send + wall, "wall": wall,
                "cpu": self.cpu["api.run_batch"][-1]}


def _max_stat(md, col: str):
    hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            cc = rg.column(c)
            if cc.path_in_schema == col and cc.statistics is not None and cc.statistics.has_min_max:
                v = cc.statistics.max
                hi = v if hi is None else max(hi, v)
    return hi


def _du(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


# -- answer checks ---------------------------------------------------------


def check_request(req, rows: list, views: list, marker: int | None = None):
    """Check one request's answer against the candidate views it may
    have been served from. Returns (ok, recall or None, reason).

    A view fits when the answer has the right length, ranks 1..n in
    score order, and every returned id is visible in the view, passes
    the request's filters there and carries the view's exact L2 score.
    Recall@k is taken against the best-fitting view's exact top-k."""
    rows = sorted(rows, key=lambda r: r["rank"])
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(1, len(rows) + 1)):
        return False, None, f"ranks {[(r['rank'], r['id']) for r in rows]}"
    if len({r["id"] for r in rows}) != len(rows):
        return False, None, "duplicate ids"
    scores = [r["score"] for r in rows]
    if any(a < b - SCORE_TOL for a, b in zip(scores, scores[1:])):
        return False, None, "scores out of rank order"
    if marker is not None and (not rows or rows[0]["id"] != marker):
        return False, None, f"marker {marker} not returned"
    best = None
    reason = "no view fits"
    for v in views:
        mask = v.mask(req.tenant, req.namespace, req.tags_any)
        n_elig = int(mask.sum())
        if len(rows) != min(req.top_k, n_elig):
            reason = f"{len(rows)} rows for {min(req.top_k, n_elig)} eligible"
            continue
        fits = True
        for r in rows:
            p = v.pos.get(r["id"])
            s = v.score(req.query, r["id"])
            if p is None or not mask[p] or abs(s - r["score"]) > SCORE_TOL * max(1.0, abs(s)):
                fits = False
                reason = f"id {r['id']} not visible/filtered/scored in view"
                break
        if not fits:
            continue
        truth = v.exact(req.query, req.top_k, mask)
        rec = len({r["id"] for r in rows} & set(truth)) / len(truth) if truth else 1.0
        best = rec if best is None else max(best, rec)
    if best is None:
        return False, None, reason
    return True, best, ""


def check_served(run: Run, served: list, views_for) -> list[float]:
    """Check every served batch; returns per-request recall of the top-k
    (non-marker) requests. `views_for(call)` gives the candidate views."""
    recalls: list[float] = []
    for c in served:
        if c["rows"] is None:
            continue  # already counted as failed
        by_q: dict[int, list] = {}
        for r in c["rows"]:
            by_q.setdefault(r["query_id"], []).append(
                {"id": r["id"], "rank": r["rank"], "score": r["score"]}
            )
        views = views_for(c)
        ok_all, batch_rec, why = True, [], ""
        for req in c["reqs"]:
            marker = c.get("markers", {}).get(req.query_id)
            ok, rec, reason = check_request(req, by_q.get(req.query_id, []), views, marker)
            if not ok:
                ok_all, why = False, f"{c['kind']} q{req.query_id}: {reason}"
            elif marker is None:
                batch_rec.append(rec)
        if batch_rec and statistics.mean(batch_rec) < BATCH_RECALL_FLOOR:
            ok_all, why = False, f"{c['kind']}: batch recall {statistics.mean(batch_rec):.2f}"
        run.outcome(ok_all, why)
        recalls.extend(batch_rec)
    return recalls


# -- setup -----------------------------------------------------------------


def setup(run: Run, fold: bool):
    """Generate inputs (untimed), then bring a fresh collection to the
    start state through public calls (timed: setup_s): bulk load,
    compact, build the IVF-PQ index, ingest the unfolded tail in a few
    small batches, and serve one warm-up batch. With `fold`, a small
    batch is ingested and folded by a maintenance tick before the tail,
    so the index carries a fold overlay as a maintained index does."""
    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.maintenance import IndexMaintainer

    k = run.knobs
    g = run.gen
    inp = os.path.join(run.work, "inputs")
    batches = [("corpus", g.corpus(k["rows"]))]
    if fold:
        batches.append(("fold", g.mixed_batch(k["fold_batch_ops"])))
    n_tail = k["tail_batches"]
    for i in range(n_tail):
        size = k["tail_ops"] // n_tail + (i < k["tail_ops"] % n_tail)
        batches.append((f"tail{i}", g.mixed_batch(size)))
    paths = {n: gen.write_ops(ops, os.path.join(inp, n)) for n, ops in batches}
    run.setup_model = g.model.copy()
    run.queries = g.queries(512)
    run.pre_tenant = g.pick(gen.SMALL_TENANTS)
    run.qpos = 0

    def acked(expected):
        return lambda n: (n == expected, f"ingest acked {n} of {expected}")

    t0 = time.time()
    coll = VectorCollection(run.spark, run.coll_path, metric="l2")
    run.tracer.patch_method(coll, "topk_two_phase", "collection.topk_two_phase")
    run.tracer.patch_method(coll, "refresh_indexes", "collection.refresh_indexes")
    run.tracer.patch_method(
        coll, "plan_filtered_strategy", "collection.plan_filtered_strategy",
        on_call=lambda out: run.plans.append(out[0]),
    )
    maint = IndexMaintainer(coll, alpha=None)
    for name, ops in batches:
        run.call("collection.ingest", coll.ingest, run.read_ops(paths[name]),
                 check=acked(len(ops["id"])))
        run.user_bytes += gen.ops_bytes(ops)
        if name == "corpus":
            run.call("collection.compact", coll.compact)
            run.call(
                "collection.build_indexes", coll.build_indexes,
                nlist=k["nlist"], m=k["m"], nbits=k["nbits"],
            )
        elif name == "fold":
            fold_once(run, maint)
    warm = run.serve(coll, plain_batch(run), "warmup")
    setup_s = time.time() - t0
    run.setup_view = run.setup_model.view()
    check_served(run, [warm], lambda c: [run.setup_view])
    run.list_files()
    run.sample_storage()
    return coll, maint, setup_s


def fold_once(run: Run, maint) -> None:
    """One maintenance tick; it must fold, without a fold error."""
    out, wall = run.call(
        "maintenance.tick", maint.tick,
        check=lambda out: ("fold_error" not in out and out.get("folded"), f"tick: {out}"),
    )
    folded = bool(out and out.get("folded"))
    run.ticks.append((wall, folded))
    if folded:
        run.refresh_counts.append(out["fold"])


def _next_queries(run: Run, n: int):
    i = run.qpos
    run.qpos = (i + n) % len(run.queries)
    return [run.queries[(i + j) % len(run.queries)] for j in range(n)]


def plain_batch(run: Run, n: int | None = None) -> list:
    n = n or run.knobs["batch_requests"]
    return [run.request(q) for q in _next_queries(run, n)]


def pre_batch(run: Run, n: int) -> list:
    return [run.request(q, tenant=run.pre_tenant) for q in _next_queries(run, n)]


def post_batch(run: Run) -> list:
    return [
        run.request(q, tags_any=[gen.POST_TAG])
        for q in _next_queries(run, run.knobs["batch_requests"])
    ]


def serve_cycles(run: Run, coll, seconds: float, cycle=CYCLE, build=None,
                 until=None) -> tuple[list, float]:
    """Closed loop over whole cycles of batch kinds until `seconds` have
    passed (and the `until` thread, if any, has finished)."""
    served = []
    t0 = time.time()
    while True:
        for kind in cycle:
            served.append(serve_kind(run, coll, kind, build))
        if time.time() - t0 >= seconds and not (until and until.is_alive()):
            return served, time.time() - t0


def serve_kind(run: Run, coll, kind: str, build=None) -> dict:
    """Serve one batch of a CYCLE kind, or of any other kind whose
    requests and marker map `build()` returns."""
    n = run.knobs["batch_requests"]
    markers = {}
    if kind == "plain":
        reqs = plain_batch(run)
    elif kind == "post":
        reqs = post_batch(run)
    elif kind == "pre":
        reqs = pre_batch(run, n)
    else:
        reqs, markers = build()
    c = run.serve(coll, reqs, kind)
    c["markers"] = markers
    return c


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _metrics(run: Run, setup_s: float, served: list, recalls: list, before: set,
             user_bytes0: int, disk: int, model, window: float) -> dict:
    """The end-to-end metrics every workload reports. CPU metrics are
    process-tree CPU seconds per call (`tree_cpu_s`); the writes are the
    ingests after the bulk load. write_amp counts the files created, and
    the user bytes ingested, after `before` / `user_bytes0` were taken."""
    cpu = run.cpu
    ok = [c for c in served if c["rows"] is not None]
    return {
        "setup_s": setup_s,
        "query_cpu_ms": 1000 * _median([c["cpu"] for c in ok]),
        "recall_at_10": statistics.mean(recalls) if recalls else 0.0,
        # a mean: the first small ingests still pay JIT warm-up, so a
        # median would jump between them and the warm ones
        "write_cpu_ms": 1000 * statistics.mean(cpu["collection.ingest"][1:]),
        "fold_cpu_s": _median(cpu.get("maintenance.tick", [])),
        "compact_cpu_s": cpu["collection.compact"][0],
        "rebuild_cpu_s": cpu["collection.build_indexes"][0],
        "write_amp": run.new_bytes(before) / max(run.user_bytes - user_bytes0, 1),
        "space_amp": disk / model.live_bytes(),
        "_window_s": window,
        "_batch_walls": [round(c["wall"], 3) for c in ok],
        "_query_p50_ms": 1000 * _median([c["wall"] for c in ok]),
    }


# -- workloads ---------------------------------------------------------------


def serve_steady(run: Run, seconds: float) -> dict:
    """Read-only serving. Write-side metrics come from the setup calls
    (bulk load, compact, build, the fold, the small ingests): this
    workload has no other writes."""
    coll, _, setup_s = setup(run, fold=True)
    served, window = serve_cycles(run, coll, seconds)
    recalls = check_served(run, served, lambda c: [run.setup_view])
    run.sample_storage()
    disk = run.list_files()
    return _metrics(run, setup_s, served, recalls, set(), 0, disk, run.setup_model, window)


def serve_interleaved(run: Run, seconds: float) -> dict:
    """Serving interleaved with writes, in one thread: the writes, an
    unfiltered batch over the grown tail, a maintenance tick that folds
    it, a probe batch that asks for each write's marker and a POST batch
    over the fold overlay. Then whole read cycles run until `seconds`
    have passed. Every read sees exactly the writes acked before it."""
    coll, maint, setup_s = setup(run, fold=False)
    k = run.knobs
    g = run.gen
    before = set(run.files)
    user_bytes0 = run.user_bytes
    states = [run.setup_model]  # the model after each acked write
    markers: list[tuple[int, object]] = []
    served: list[dict] = []

    def read(kind, build=None):
        c = serve_kind(run, coll, kind, build)
        c["state"] = len(states) - 1
        served.append(c)

    def marker_probes():
        # one top-1 request per write, under the marker tenant, at the
        # marker's own vector: it must come back at rank 1
        reqs, by_q = [], {}
        for mid, vec in markers[-k["max_marker_requests"]:]:
            r = run.request(vec, tenant=gen.MARKER_TENANT, top_k=1)
            by_q[r.query_id] = mid
            reqs.append(r)
        return reqs, by_q

    t0 = time.time()
    for j in range(k["interleaved_writes"]):
        ops = g.mixed_batch(k["write_batch_ops"], marker=True)
        df = run.read_ops(gen.write_ops(ops, os.path.join(run.work, "inputs", f"w{j}")))
        want = len(ops["id"])
        run.call(
            "collection.ingest", coll.ingest, df,
            check=lambda n: (n == want, f"write {j}: acked {n} of {want}"),
        )
        run.user_bytes += gen.ops_bytes(ops)
        states.append(g.model.copy())
        markers.append((int(ops["id"][0]), ops["vector"][0]))
        run.list_files()
        if run.tracer.enabled:
            run.sample_storage()
    read("plain")
    fold_once(run, maint)
    run.list_files()
    if run.tracer.enabled:
        run.sample_storage()
    read("markers", marker_probes)
    read("post")
    rest = seconds - (time.time() - t0)
    if rest > 0:
        more, _ = serve_cycles(run, coll, rest)
        for c in more:
            c["state"] = len(states) - 1
        served += more
    window = time.time() - t0

    views = [s.view() for s in states]
    recalls = check_served(run, served, lambda c: [views[c["state"]]])
    final = states[-1]
    cur = coll.current().select("id", "epoch").toPandas()
    got = (len(cur), gen.visible_checksum(cur["id"], cur["epoch"]))
    want = (final.count(), final.checksum())
    run.outcome(got == want, f"visible set {got} != model {want}")
    run.sample_storage()
    disk = run.list_files()
    out = _metrics(run, setup_s, served, recalls, before, user_bytes0, disk, final, window)
    out["_writes"] = len(states) - 1
    return out


def serve_under_ingest(run: Run, seconds: float) -> dict:
    """Serving beside an open-loop writer and a maintainer that compacts
    and folds once mid-window; after the window, a second compact + fold
    on the grown changelog, then vacuum. Not a listed workload: it
    reproduces a duplicate row `api.run_batch` returns while an ingest
    runs beside it. write_p50_ms here is (ack - scheduled send)."""
    coll, maint, setup_s = setup(run, fold=False)
    k = run.knobs
    g = run.gen
    before = set(run.files)
    user_bytes0 = run.user_bytes
    acked: list[dict] = []  # writer batches in ack order
    started: list[float] = []  # ingest start time per batch
    maint_q: queue.Queue = queue.Queue()
    base = run.setup_model

    def writer():
        try:
            write_all()
        except Exception as e:  # noqa: BLE001 — counted, reported
            run.outcome(False, f"writer: {type(e).__name__}: {e}")
        finally:
            maint_q.put(None)

    def write_all():
        t0 = time.time()
        for j in range(k["writes"]):
            ops = g.mixed_batch(k["write_batch_ops"], marker=True)
            t_sched = t0 + j * k["write_period_s"]
            delay = t_sched - time.time()
            if delay > 0:
                time.sleep(delay)
            path = gen.write_ops(ops, os.path.join(run.work, "inputs", f"w{j}"))
            df = run.read_ops(path)
            started.append(time.time())
            want = len(ops["id"])
            n, wall = run.call(
                "collection.ingest", coll.ingest, df,
                check=lambda n: (n == want, f"write {j}: acked {n} of {want}"),
            )
            t_ack = time.time()
            run.user_bytes += gen.ops_bytes(ops)
            acked.append({
                "j": j, "ops": ops, "n": len(ops["id"]), "wall": wall,
                "t_sched": t_sched, "t_ack": t_ack,
                "marker": (int(ops["id"][0]), ops["vector"][0]),
            })
            run.list_files()
            if run.tracer.enabled:
                run.sample_storage()
            if j + 1 == k["maintain_after_write"]:
                maint_q.put(j)

    def maintain():
        # compact, then fold: the engine serves its cheapest delta path
        # when the index is at least as fresh as the snapshot
        run.call("collection.compact", coll.compact)
        run.list_files()
        fold_once(run, maint)
        run.list_files()

    def maintainer():
        while maint_q.get() is not None:
            maintain()

    def mixed():
        half = k["batch_requests"] // 2
        reqs = plain_batch(run, half)
        recent = acked[-k["max_marker_requests"]:]
        markers = {}
        for b in recent:
            mid, vec = b["marker"]
            r = run.request(vec, tenant=gen.MARKER_TENANT, top_k=1)
            markers[r.query_id] = mid
            reqs.append(r)
        if not recent:
            reqs += pre_batch(run, half)
        return reqs, markers

    threads = [threading.Thread(target=writer, name="pb-writer"),
               threading.Thread(target=maintainer, name="pb-maintainer")]
    for t in threads:
        t.start()
    try:
        served, window = serve_cycles(
            run, coll, seconds, ("plain", "post", "mixed"), mixed, until=threads[0]
        )
    finally:
        for t in threads:
            t.join()

    # the second maintenance round, on the grown changelog, then vacuum
    maintain()
    run.call("collection.vacuum", coll.vacuum)
    if run.tracer.enabled:
        run.sample_storage()
    disk = run.list_files()

    # the model after every acked batch, for the answer checks
    states = [base]
    for b in acked:
        m = states[-1].copy()
        m.apply(b["ops"])
        states.append(m)
    views: dict[int, object] = {}

    def view(i):
        if i not in views:
            views[i] = states[i].view()
        return views[i]

    def views_for(c):
        lo = sum(1 for b in acked if b["t_ack"] <= c["t_send"])
        hi = sum(1 for t in started if t < c["t_done"])
        return [view(i) for i in range(lo, hi + 1)]

    recalls = check_served(run, served, views_for)
    final = states[-1]
    cur = coll.current().select("id", "epoch").toPandas()
    got = (len(cur), gen.visible_checksum(cur["id"], cur["epoch"]))
    want = (final.count(), final.checksum())
    run.outcome(got == want, f"visible set {got} != model {want}")
    out = _metrics(run, setup_s, served, recalls, before, user_bytes0, disk, final, window)
    out["_writes"] = len(acked)
    return out


WORKLOADS = {
    "serve_steady": serve_steady,
    "serve_interleaved": serve_interleaved,
    "serve_under_ingest": serve_under_ingest,
}
