"""Schema-pinned reads: the changelog reads with the recorded union of
the columns ingest wrote, and generation dirs read with a schema cached
by dir name, dropped when GC removes the dir."""

from __future__ import annotations

import os

import numpy as np

from write_optimized_vector_database_spark.api import QueryRequest, run_batch
from write_optimized_vector_database_spark.collection import VectorCollection

THIN = "op string, id long, vector array<float>, epoch long"
FULL = (
    "op string, id long, tenant string, namespace string, "
    "vector array<float>, tags array<int>, epoch long"
)


def _vec(i: int) -> list[float]:
    return [float(x) for x in np.random.default_rng(i).standard_normal(8)]


def _full_batch(spark, ids, tag: int, epoch0: int):
    return spark.createDataFrame(
        [("INSERT", i, "tB", "nsB", _vec(i), [tag], epoch0 + i) for i in ids], FULL
    )


def _assert_full_rows(coll, ids, tag: int):
    # the footer Spark sampled used to decide whether tags survived a
    # read; repeat so a sampled schema cannot pass by luck
    for _ in range(6):
        got = {
            r.id: r
            for r in coll.current().select("id", "tenant", "tags").collect()
            if r.id in ids
        }
        assert set(got) == set(ids)
        assert all(r.tenant == "tB" and list(r.tags) == [tag] for r in got.values())


def _assert_top1_carries_tags(coll, qid: int, tag: int):
    rows = run_batch(
        coll,
        [QueryRequest(query=_vec(qid), top_k=5, tenant="tB", nprobe=4, query_id=0)],
        use_index=True,
    ).collect()
    best = min(rows, key=lambda r: r.rank)
    assert best.id == qid and list(best.tags) == [tag]
    assert all(r.tags is not None for r in rows)


def test_later_batch_columns_survive_ingest_fold_compact(spark, tmp_path):
    path = str(tmp_path / "c")
    c = VectorCollection(spark, path, metric="l2")
    c.ingest(spark.createDataFrame([("INSERT", i, _vec(i), i) for i in range(200)], THIN))
    c.ingest(_full_batch(spark, range(200, 300), 5, 1_000))
    assert set(c.changelog().columns) >= {"tenant", "namespace", "tags", "id_hash"}
    _assert_full_rows(c, set(range(200, 300)), 5)

    c.build_indexes(nlist=4, m=4, nbits=4)
    c.ingest(_full_batch(spark, range(300, 340), 6, 2_000))
    c.refresh_indexes()
    _assert_full_rows(c, set(range(300, 340)), 6)
    _assert_top1_carries_tags(c, 305, 6)

    c.compact()
    _assert_full_rows(c, set(range(200, 300)), 5)
    _assert_top1_carries_tags(c, 250, 5)

    # a collection written before the schema was recorded: inferred
    # once over every footer, then recorded
    c._meta_mutate(lambda m: m.pop("changelog_schema"))
    legacy = VectorCollection(spark, path, metric="l2")
    assert "tags" in legacy.changelog().columns
    recorded = legacy._meta()["changelog_schema"]
    assert [f["name"] for f in recorded["fields"]] == [
        "op", "id", "tenant", "namespace", "vector", "tags", "epoch", "id_hash"
    ]


def test_gc_drops_pinned_schemas(spark, tmp_path):
    c = VectorCollection(spark, str(tmp_path / "g"), metric="l2")
    c.ingest(_full_batch(spark, range(120), 1, 0))
    c.compact()
    c.build_indexes(nlist=4, m=4, nbits=4)
    _assert_top1_carries_tags(c, 7, 1)
    old_snap = c._current_dir()
    old_index = c._stable_index_path()
    assert {old_snap, old_index} <= set(c._schema_cache)

    c.gen_retention_s = 0.0
    c.ingest(_full_batch(spark, range(120, 130), 2, 1_000))
    c.compact()
    c.build_indexes(nlist=4, m=4, nbits=4)
    _assert_top1_carries_tags(c, 125, 2)
    for gone in (old_snap, old_index):
        assert not os.path.exists(gone)
        assert gone not in c._schema_cache
    assert {c._current_dir(), c._stable_index_path()} <= set(c._schema_cache)
