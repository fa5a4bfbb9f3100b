"""Smoke test of the benchmark itself, at a tiny corpus.

    python3 perfbench/smoke.py            # from the root of a source checkout

1. Every answer check rejects a deliberately wrong answer (shuffled
   top-k, dropped marker, truncated or foreign answer, wrong score, a
   garbage batch, a visible set missing one op), so no check passes
   vacuously.
2. The NumPy recall oracle agrees with the engine's exact `topk` on a
   small collection (ids and scores).
3. Each workload BENCHMARK.json lists runs through run.py with --trace 0
   and --trace 1, passes its own answer checks and prints every metric
   BENCHMARK.json names, with its unit.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

TINY_ROWS = 1_500


class _Req:
    def __init__(self, query, top_k=10, tenant="", namespace="", tags_any=()):
        self.query, self.top_k = query, top_k
        self.tenant, self.namespace, self.tags_any = tenant, namespace, list(tags_any)
        self.query_id = 1


def _answer(view, req, ids):
    return [
        {"id": i, "rank": r + 1, "score": view.score(req.query, i)}
        for r, i in enumerate(ids)
    ]


def check_negative() -> None:
    g = gen.Generator(7)
    g.corpus(400)
    before = g.model.copy()
    ops = g.mixed_batch(50, marker=True)
    view = g.model.view()
    q = g.queries(1)[0]
    req = _Req(q)
    truth = view.exact(q, 10, view.mask())
    good = _answer(view, req, truth)

    def ok(rows, marker=None, r=req):
        return workloads.check_request(r, rows, [view], marker)[0]

    assert ok(good), "the true answer must pass"
    assert workloads.check_request(req, good, [view])[1] == 1.0

    shuffled = [dict(x) for x in good]
    random.Random(1).shuffle(shuffled)
    for rank, x in enumerate(shuffled):
        x["rank"] = rank + 1
    assert not ok(shuffled), "shuffled top-k passed"

    assert not ok(good[:-1]), "truncated answer passed"
    dup = good[:5] + [dict(good[4], rank=6)] + [dict(x, rank=x["rank"] + 1) for x in good[5:9]]
    assert not ok(dup), "duplicated row passed"

    gone = [i for i in range(g.next_id) if i not in view.pos][:1]
    foreign = [dict(x) for x in good]
    foreign[-1] = {"id": gone[0], "rank": 10, "score": good[-1]["score"]}
    assert not ok(foreign), "deleted id passed"

    bad_score = [dict(x) for x in good]
    bad_score[3]["score"] += 0.5
    assert not ok(bad_score), "wrong score passed"

    freq = _Req(q, tenant=gen.SMALL_TENANTS[0])
    ftruth = view.exact(q, 10, view.mask(tenant=freq.tenant))
    assert ok(_answer(view, freq, ftruth), r=freq)
    assert not ok(good, r=freq), "unfiltered answer passed a tenant filter"

    marker = int(ops["id"][0])
    mreq = _Req(ops["vector"][0], top_k=1, tenant=gen.MARKER_TENANT)
    assert ok(_answer(view, mreq, [marker]), marker=marker, r=mreq)
    other = _Req(ops["vector"][0], top_k=1)
    dropped = _answer(view, other, view.exact(other.query, 2, view.mask())[1:2])
    assert not ok(dropped, marker=marker, r=mreq), "dropped marker passed"

    # a batch of far-from-best (but visible, correctly scored) answers
    class FakeRun:
        failed = attempted = 0

        def outcome(self, good, why=""):
            self.attempted += 1
            self.failed += not good

    worst = view.exact(-q, 10, view.mask())  # nearest to the mirrored query
    far = sorted(_answer(view, req, worst), key=lambda x: -x["score"])
    for rank, x in enumerate(far):
        x["rank"] = rank + 1
    call = {"kind": "plain", "reqs": [req],
            "rows": [dict(x, query_id=1) for x in far], "markers": {}}
    fr = FakeRun()
    workloads.check_served(fr, [call], lambda c: [view])
    assert fr.failed == 1, "a garbage batch passed the recall floor"
    call["rows"] = [dict(x, query_id=1) for x in good]
    fr = FakeRun()
    workloads.check_served(fr, [call], lambda c: [view])
    assert fr.failed == 0

    # visible-set check: a lost op or a stale epoch changes count/checksum
    want = (g.model.count(), g.model.checksum())
    lost = before.copy()
    lost.apply({k: v[:-1] for k, v in ops.items()})
    assert (lost.count(), lost.checksum()) != want, "lost op passed"
    stale = before.copy()
    stale.apply(dict(ops, epoch=ops["epoch"] - (ops["epoch"] == ops["epoch"][0])))
    assert stale.count() == want[0] and stale.checksum() != want[1], "stale epoch passed"
    print("smoke: answer checks reject wrong answers")


def check_oracle(root: str) -> None:
    import run

    work = os.path.join(root, ".perfbench_work", f"smoke-{os.getpid()}")
    run.prepare_env(root, work, run.cpu_count())
    sys.path.insert(0, root)
    from write_optimized_vector_database_spark.collection import VectorCollection
    from write_optimized_vector_database_spark.session import get_spark

    spark = get_spark("perfbench-smoke", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        g = gen.Generator(11)
        paths = [gen.write_ops(g.corpus(600), os.path.join(work, "c"))]
        paths.append(gen.write_ops(g.mixed_batch(100), os.path.join(work, "m")))
        coll = VectorCollection(spark, os.path.join(work, "coll"), metric="l2")
        for p in paths:
            coll.ingest(spark.read.schema(workloads.SCHEMA_DDL).parquet(p))
        view = g.model.view()
        qs = g.queries(4)
        qdf = spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(qs)],
            "query_id long, query_vec array<float>",
        )
        for tenant in (None, "t00"):
            rows = coll.topk(qdf, k=10, tenant=tenant).collect()
            for i, q in enumerate(qs):
                got = sorted((r for r in rows if r.query_id == i), key=lambda r: r.rank)
                want = view.exact(q, 10, view.mask(tenant=tenant or ""))
                assert [r.vec_id for r in got] == want, (tenant, i)
                for r in got:
                    assert abs(r.score - view.score(q, r.vec_id)) < 1e-4
    finally:
        run.stop_spark(spark)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    print("smoke: NumPy oracle matches the engine's exact topk")


def check_runs(root: str) -> None:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "5", "--seconds", "1", "--trace", str(trace),
                   "--rows", str(TINY_ROWS)]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
            last = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
            assert last["attempted"] >= 1
            assert last["correct"], f"{w['name']} trace={trace}: {p.stdout.splitlines()[-2]}"
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            assert got == want[trace], (
                f"{w['name']} trace={trace}: missing {sorted(set(want[trace]) - set(got))}, "
                f"extra {sorted(set(got) - set(want[trace]))}, "
                f"units {[(k, got[k], u) for k, u in want[trace].items() if got.get(k) != u]}"
            )
            print(f"smoke: {w['name']} trace={trace} prints all {len(got)} metrics "
                  f"(correct={last['correct']}, failed {last['failed']}/{last['attempted']})")


def main() -> int:
    root = os.getcwd()
    check_negative()
    check_oracle(root)
    check_runs(root)
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
