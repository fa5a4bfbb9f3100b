"""QueryRequest API parity (types.h:67-82): batch execution, caps,
filter wildcards, result shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.api import QueryRequest, run_batch, validate_batch
from write_optimized_vector_database_spark.collection import VectorCollection
from write_optimized_vector_database_spark.config import DEFAULT_CONFIG
from write_optimized_vector_database_spark.operators.changelog import synthetic_changelog


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory, sf_dir):
    c = VectorCollection(spark, str(tmp_path_factory.mktemp("api") / "c"), metric="ip")
    c.ingest(synthetic_changelog(spark, sf_dir))
    c.compact()
    return c


@pytest.fixture(scope="module")
def qvecs(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 3)
        .collect()
    )
    return {r.vec_id: list(r.embedding) for r in rows}


def test_batch_caps_enforced(qvecs):
    v = next(iter(qvecs.values()))
    with pytest.raises(ValueError, match="max_batch_queries"):
        validate_batch([QueryRequest(query=v)] * 101)
    with pytest.raises(ValueError, match="top_k"):
        validate_batch([QueryRequest(query=v, top_k=101)])
    with pytest.raises(ValueError, match="empty"):
        validate_batch([])


def test_batch_query_roundtrip(coll, qvecs):
    reqs = [QueryRequest(query=v, top_k=5, query_id=qid) for qid, v in qvecs.items()]
    out = run_batch(coll, reqs).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(qvecs)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        best = min(rows, key=lambda r: r.rank)
        assert best.id == qid  # self-match at rank 1 (id present & visible)
        assert best.tags is not None  # QueryResult carries tags (types.h:81)


def test_batch_with_filters(coll, qvecs):
    reqs = [
        QueryRequest(query=v, top_k=5, tenant="t0", query_id=qid)
        for qid, v in qvecs.items()
    ]
    out = run_batch(coll, reqs).collect()
    assert all(r.id % 2 == 0 for r in out)  # tenant t0 = even ids


def test_indexed_batch_respects_filters(coll, qvecs):
    """use_index=True must intersect QueryRequest filters with the
    candidate set (reference probe-path intersection, msg-buf.h:236-255)
    — filtered requests previously fell through to unfiltered results."""
    coll.build_ivf_index(nlist=8)
    reqs = [
        QueryRequest(query=v, top_k=5, tenant="t0", query_id=qid)
        for qid, v in qvecs.items()
    ]
    out = run_batch(coll, reqs, use_index=True).collect()
    assert out, "indexed filtered batch returned nothing"
    assert all(r.id % 2 == 0 for r in out)  # tenant t0 = even ids


def test_indexed_batch_via_two_phase_stable_index(spark, tmp_path, sf_dir, qvecs):
    """A collection indexed ONLY via build_indexes() (the flagship stable
    PQ index, no plain-IVF index on disk) must serve use_index=True
    requests through topk_two_phase — filtered and unfiltered. Before
    r07 this errored (topk_ivf read the absent index_ivf) or dropped
    filters."""
    c = VectorCollection(spark, str(tmp_path / "c2p"), metric="ip")
    c.ingest(synthetic_changelog(spark, sf_dir))
    c.compact()
    c.build_indexes(nlist=8, m=8, nbits=8)
    reqs = [
        QueryRequest(query=v, top_k=5, tenant="t0", query_id=qid)
        for qid, v in qvecs.items()
    ]
    out = run_batch(c, reqs, use_index=True).collect()
    assert out, "indexed filtered batch returned nothing"
    assert all(r.id % 2 == 0 for r in out)  # tenant t0 = even ids
    # unfiltered goes through the same stable path
    reqs_u = [QueryRequest(query=v, top_k=5, query_id=qid) for qid, v in qvecs.items()]
    out_u = run_batch(c, reqs_u, use_index=True).collect()
    assert {r.query_id for r in out_u} == set(qvecs)


def test_mixed_filter_batch(coll, qvecs):
    v = list(qvecs.values())[0]
    reqs = [
        QueryRequest(query=v, top_k=3, tenant="t0", query_id=0),
        QueryRequest(query=v, top_k=3, tenant="t1", query_id=1),
    ]
    out = run_batch(coll, reqs).collect()
    g0 = [r for r in out if r.query_id == 0]
    g1 = [r for r in out if r.query_id == 1]
    assert all(r.id % 2 == 0 for r in g0) and len(g0) == 3
    assert all(r.id % 2 == 1 for r in g1) and len(g1) == 3


def test_run_upsert_caps_and_ingests(spark, tmp_path):
    from write_optimized_vector_database_spark.api import run_upsert
    from write_optimized_vector_database_spark.collection import VectorCollection

    ddl = (
        "op string, id long, tenant string, namespace string, "
        "vector array<float>, tags array<int>, epoch long"
    )
    rows = [("UPSERT", i, "t", "ns", [float(i), 1.0], [1], i) for i in range(5)]
    c = VectorCollection(spark, str(tmp_path / "u"), metric="ip")
    n = run_upsert(c, spark.createDataFrame(rows, ddl))
    assert n == 5 and c.current().count() == 5

    import pytest as _pytest

    from write_optimized_vector_database_spark.config import (
        DEFAULT_CONFIG,
        EngineConfig,
    )
    from dataclasses import replace

    tiny = replace(
        DEFAULT_CONFIG, limits=replace(DEFAULT_CONFIG.limits, max_upsert_batch=3)
    )
    with _pytest.raises(ValueError, match="max_upsert_batch"):
        run_upsert(c, spark.createDataFrame(rows, ddl), config=tiny)
    with _pytest.raises(ValueError, match="unknown op"):
        run_upsert(
            c,
            spark.createDataFrame(
                [("NOPE", 9, "t", "ns", [0.0, 0.0], [1], 9)], ddl
            ),
        )


# -- two-phase serving: one view, job budget, equivalence, degraded mode --

_DDL = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)


def _two_phase_collection(spark, root, sf_dir, metric: str):
    """A warm two-phase collection at the serving shape: built stable
    index, one fold overlay, and an unfolded tail past the index."""
    c = VectorCollection(spark, str(root / f"tp_{metric}"), metric=metric)
    c.ingest(synthetic_changelog(spark, sf_dir))
    c.compact()
    c.build_indexes(nlist=8, m=8, nbits=8)
    emb = {
        r.vec_id: list(r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 40)
        .collect()
    }

    def moved(lo, hi, epoch):
        return spark.createDataFrame(
            [
                ("UPSERT", i, f"t{i % 2}", f"ns{(i // 2) % 2}",
                 [x * 0.9 for x in emb[i]], [i % 50], epoch + i)
                for i in range(lo, hi)
            ],
            _DDL,
        )

    c.ingest(moved(0, 20, 300_000))
    c.refresh_indexes()
    c.ingest(moved(20, 40, 400_000))
    return c


@pytest.fixture(scope="module")
def two_phase(spark, tmp_path_factory, sf_dir):
    """metric → its two-phase collection, built once per module."""
    root = tmp_path_factory.mktemp("api_tp")
    built: dict = {}

    def get(metric: str):
        if metric not in built:
            built[metric] = _two_phase_collection(spark, root, sf_dir, metric)
        return built[metric]

    return get


# plain, POST (tenant t0 keeps half the rows) and PRE (tag 7 is rare)
_SIGNATURES = {"plain": {}, "post": {"tenant": "t0"}, "pre": {"tags_any": [7]}}


def _requests(qvecs, sig: str, base_id: int = 0):
    return [
        QueryRequest(query=v, top_k=5, nprobe=4, query_id=base_id + i, **_SIGNATURES[sig])
        for i, v in enumerate(qvecs.values())
    ]


def _jobs(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_two_phase_plan_and_collect_job_budget(spark, two_phase, qvecs):
    """On a warm collection, building a two-phase run_batch plan starts
    no Spark job, and collecting it stays within the serving job budget:
    the query batch is a driver-local relation, generation schemas are
    pinned, and the tags come from the rerank's own view."""
    coll = two_phase("l2")
    assert coll.plan_filtered_strategy(tenant="t0")[0] == "post"
    assert coll.plan_filtered_strategy(tags_any=[7])[0] == "pre"
    sc = spark.sparkContext
    for sig, budget in (("plain", 12), ("post", 12), ("pre", 14)):
        reqs = _requests(qvecs, sig)
        run_batch(coll, reqs, use_index=True).collect()  # warm
        df, n_plan = _jobs(
            sc, f"tp_plan_{sig}", lambda: run_batch(coll, reqs, use_index=True)
        )
        rows, n_exec = _jobs(sc, f"tp_exec_{sig}", df.collect)
        assert n_plan == 0, f"{sig}: plan construction ran {n_plan} jobs"
        assert n_exec <= budget, f"{sig}: collect ran {n_exec} jobs > {budget}"
        assert rows


def _parent_formulation(spark, coll, groups):
    """run_batch as formulated before the one-view change: a list-built
    query frame per signature, topk_two_phase, and the tags left-joined
    from a second current() resolution."""
    out = None
    for sig, reqs in groups:
        qdf = spark.createDataFrame(
            [(r.query_id, [float(x) for x in r.query]) for r in reqs],
            "query_id long, query_vec array<float>",
        )
        f = _SIGNATURES[sig]
        part = coll.topk_two_phase(
            qdf, k=5, nprobe=4, tenant=f.get("tenant"), tags_any=f.get("tags_any")
        ).select("query_id", "vec_id", "score", "rank")
        out = part if out is None else out.unionByName(part)
    tags = coll.current().select(F.col("id").alias("vec_id"), "tags")
    return out.join(tags, "vec_id", "left").select(
        "query_id", F.col("vec_id").alias("id"), "score", "rank", "tags"
    )


def _rows(df):
    return sorted(
        (r.query_id, r.id, r.rank, r.score, tuple(r.tags or ())) for r in df.collect()
    )


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_run_batch_equals_parent_formulation(spark, two_phase, qvecs, metric):
    """Same ids, ranks and tags, and bit-identical scores, as the
    two-plan formulation it replaces, for plain, POST, PRE and
    mixed-signature batches."""
    coll = two_phase(metric)
    for sig in _SIGNATURES:
        reqs = _requests(qvecs, sig)
        got = _rows(run_batch(coll, reqs, use_index=True))
        want = _rows(_parent_formulation(spark, coll, [(sig, reqs)]))
        assert got and got == want, sig
    groups = [(sig, _requests(qvecs, sig, 10 * i)) for i, sig in enumerate(_SIGNATURES)]
    mixed = [r for _, reqs in groups for r in reqs]
    got = _rows(run_batch(coll, mixed, use_index=True))
    assert got == _rows(_parent_formulation(spark, coll, groups))
    assert {q for q, *_ in got} == {r.query_id for r in mixed}


def test_run_batch_resolves_the_view_once(two_phase, qvecs, monkeypatch):
    """One visible-view resolution per call, however many plans the
    batch splits into (current() resolves through _visible too)."""
    coll = two_phase("l2")
    calls = []
    real = coll._visible
    monkeypatch.setattr(coll, "_visible", lambda: calls.append(1) or real())
    groups = [r for i, sig in enumerate(_SIGNATURES) for r in _requests(qvecs, sig, 10 * i)]
    run_batch(coll, groups, use_index=True)
    assert len(calls) == 1


def test_query_batch_arrow_fallback_is_reported(spark, two_phase, qvecs, caplog):
    """A query batch that cannot go through Arrow falls back to the
    pickled-RDD path: same answer, one logged warning per batch."""
    import logging

    coll = two_phase("l2")
    reqs = _requests(qvecs, "plain")
    want = _rows(run_batch(coll, reqs, use_index=True))
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with caplog.at_level(logging.WARNING, logger="write_optimized_vector_database_spark.api"):
            got = _rows(run_batch(coll, reqs, use_index=True))
    finally:
        spark.conf.set(key, prev)
    warned = [r for r in caplog.records if "pickled-RDD" in r.getMessage()]
    assert len(warned) == 1
    assert got == want
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="write_optimized_vector_database_spark.api"):
        run_batch(coll, reqs, use_index=True)
    assert not [r for r in caplog.records if "pickled-RDD" in r.getMessage()]


def test_run_batch_no_duplicate_rows_under_concurrent_ingest(spark, tmp_path, sf_dir, qvecs):
    """A writer thread ingests small batches (and compacts and folds
    once) while the reader runs two-phase batches: every answer keeps
    one row per (query_id, id) with ranks 1..n."""
    import threading

    coll = VectorCollection(spark, str(tmp_path / "cc"), metric="l2")
    coll.ingest(synthetic_changelog(spark, sf_dir))
    coll.compact()
    coll.build_indexes(nlist=8, m=8, nbits=8)
    vecs = list(qvecs.values())
    done = threading.Event()
    errors: list[BaseException] = []

    def writer():
        try:
            for b in range(6):
                coll.ingest(spark.createDataFrame(
                    [
                        ("UPSERT", (b * 37 + j) % 120, f"t{j % 2}", "ns0",
                         [x + 0.01 * (b + 1) for x in vecs[j % len(vecs)]],
                         [j % 50], 500_000 + b * 100 + j)
                        for j in range(12)
                    ],
                    _DDL,
                ))
                if b == 2:
                    coll.compact()
                if b == 4:
                    coll.refresh_indexes()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=writer)
    t.start()
    reads = 0
    try:
        while not done.is_set() or reads < 3:
            sig = ("plain", "post")[reads % 2]
            rows = run_batch(coll, _requests(qvecs, sig), use_index=True).collect()
            by_q: dict = {}
            for r in rows:
                by_q.setdefault(r.query_id, []).append((r.rank, r.id))
            assert set(by_q) == set(range(len(qvecs)))
            for q, got in by_q.items():
                ids = [i for _, i in got]
                assert len(ids) == len(set(ids)), f"read {reads} q{q}: {sorted(got)}"
                assert sorted(rk for rk, _ in got) == list(range(1, len(got) + 1))
            reads += 1
    finally:
        t.join(timeout=300)
    assert not t.is_alive(), "writer thread did not finish"
    assert not errors, errors
