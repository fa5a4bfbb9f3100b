"""QueryRequest/QueryResult API parity layer.

The reference's entire read API is
`QueryRequest → [QueryResult]` (/root/reference/include/woved/types.h:67-82):

    QueryRequest{query: float[dim], top_k ≤ 100, tenant, namespace_id,
                 tags_any: [tag], nprobe?, sample_p?}
    QueryResult{id, score, tags, segment_id}

This module exposes that exact shape over a VectorCollection, including
the reference's validation caps (batch ≤ 100 queries, top_k ≤ 100 —
config.h:130, 180). Requests sharing a filter signature become one
queries-DataFrame plan (Q14); a batch with several signatures unions one
plan per signature.

Job budget of a two-phase batch (`use_index=True` over a built stable
index, warm collection): building the plan starts no Spark job, and
`.collect()` runs 11 jobs for an unfiltered or POST batch and 13 for a
PRE batch at the perfbench serving shape (10k rows, 8 queries). The
query batch is an Arrow-built local relation, so the ADC operator's
query collect and the query broadcasts run on the driver; the
generation dirs' schemas are pinned, so no read infers one. Every job
left is plan execution: broadcasts of the pruned index, the tail and the
candidates, and the shuffles of the latest-by-id and top-k windows."""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from write_optimized_vector_database_spark.collection import VectorCollection
from write_optimized_vector_database_spark.config import DEFAULT_CONFIG, EngineConfig

log = logging.getLogger(__name__)

QUERY_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType()),
    T.StructField("query_vec", T.ArrayType(T.FloatType())),
])


@dataclass
class QueryRequest:
    """types.h:67-75, field for field (query_id added for batch shape)."""

    query: list[float]
    top_k: int = 10
    tenant: str = ""
    namespace: str = ""
    tags_any: list[int | str] = field(default_factory=list)  # strings via tag dict
    nprobe: int | None = None
    sample_p: float | None = None
    query_id: int | None = None


def validate_batch(requests: list[QueryRequest], config: EngineConfig = DEFAULT_CONFIG):
    """Reference request validation (config.h:179-181, 130)."""
    if not requests:
        raise ValueError("empty query batch")
    if len(requests) > config.limits.max_batch_queries:
        raise ValueError(
            f"batch of {len(requests)} exceeds max_batch_queries="
            f"{config.limits.max_batch_queries}"
        )
    dims = {len(r.query) for r in requests}
    if len(dims) != 1:
        raise ValueError(f"mixed query dims {sorted(dims)}")
    for r in requests:
        if r.top_k > config.limits.max_top_k:
            raise ValueError(f"top_k {r.top_k} exceeds {config.limits.max_top_k}")
        if r.top_k < 1:
            raise ValueError("top_k must be ≥ 1")


def _query_frame(spark, reqs: list[QueryRequest]) -> tuple[DataFrame, bool]:
    """(query_id, query_vec) frame of one plan's requests, built from a
    pandas frame through Arrow. That gives a LocalRelation: the driver
    collects and broadcasts it without a Spark job. A list-built frame
    is an RDD behind a Python pickling map, and every use of it is a
    job of Python tasks. Returns the frame and whether it is local
    (False when PySpark fell back to the pickled-RDD path)."""
    import pandas as pd

    pdf = pd.DataFrame({
        "query_id": [int(r.query_id) for r in reqs],
        "query_vec": [[float(x) for x in r.query] for r in reqs],
    })
    qdf = spark.createDataFrame(pdf, QUERY_SCHEMA)
    plan = qdf._jdf.queryExecution().analyzed().getClass().getSimpleName()
    return qdf, plan == "LocalRelation"


def run_batch(
    collection: VectorCollection,
    requests: list[QueryRequest],
    config: EngineConfig = DEFAULT_CONFIG,
    use_index: bool = False,
) -> DataFrame:
    """Execute a QueryRequest batch → (query_id, id, score, rank, tags).

    Filters are intersected per the reference semantics (wildcard on
    empty); the whole batch is one Spark plan. Heterogeneous per-request
    filters fall back to per-group runs unioned together; the common
    case (shared filters, Q14 batch) stays single-plan.

    The visible view is resolved ONCE per call: every group's plan
    scores, filters and takes its result tags from that one view, so a
    concurrent ingest can never make two parts of one answer disagree
    (it once returned a (query_id, id) row twice when the tags came from
    a second resolution)."""
    validate_batch(requests, config)
    spark = collection.spark

    # group requests by their filter signature so each group is one plan
    def key(r: QueryRequest):
        return (r.tenant, r.namespace, tuple(r.tags_any), r.sample_p, r.top_k, r.nprobe)

    groups: dict[tuple, list[QueryRequest]] = {}
    for i, r in enumerate(requests):
        if r.query_id is None:
            r.query_id = i
        groups.setdefault(key(r), []).append(r)

    visible = collection._visible()
    # index dispatch: the flagship two-phase (stable PQ) path when
    # build_indexes() has run — the reference's read path, Q5 — else the
    # plain-IVF index from build_ivf_index(). Both take the full
    # QueryRequest filter surface as of r07, so a filtered request never
    # falls back to an unindexed scan.
    two_phase = use_index and collection.fs.exists(collection._stable_index_path())
    out: DataFrame | None = None
    degraded = False
    for (tenant, namespace, tags_any, sample_p, top_k, nprobe), reqs in groups.items():
        qdf, local = _query_frame(spark, reqs)
        degraded = degraded or not local
        if two_phase:
            # carries the tags of the rows it reranked
            part = collection.topk_two_phase(
                qdf,
                k=top_k,
                # request override > persisted calibration > default
                nprobe=nprobe,
                tenant=tenant or None,
                namespace=namespace or None,
                tags_any=list(tags_any) or None,
                sample_p=sample_p,
                _view=visible,
            )
        else:
            filters = dict(
                tenant=tenant or None,
                namespace=namespace or None,
                tags_any=list(tags_any) or None,
                sample_p=sample_p,
            )
            if not use_index:
                part = collection.topk(qdf, k=top_k, _view=visible, **filters)
            elif any(v is not None for v in filters.values()):
                # planner-chosen pre/post filtering (selectivity-measured)
                part = collection.topk_filtered(
                    qdf, k=top_k, nprobe=nprobe, strategy="auto", _view=visible,
                    **filters,
                )
            else:
                part = collection.topk_ivf(qdf, k=top_k, nprobe=nprobe)
            # QueryResult carries tags (types.h:81): join them from the view
            part = part.join(
                visible[0].select(F.col("id").alias("vec_id"), "tags"),
                "vec_id",
                "left",
            )
        out = part if out is None else out.unionByName(part)
    if degraded:
        log.warning(
            "run_batch: Arrow conversion of the query batch fell back to "
            "the pickled-RDD path: every use of the batch now runs a Spark "
            "job of Python tasks. Check "
            "spark.sql.execution.arrow.pyspark.enabled and pyarrow."
        )
    return out.select(
        "query_id", F.col("vec_id").alias("id"), "score", "rank", "tags"
    )


def run_upsert(
    collection: VectorCollection,
    changelog: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
) -> int:
    """Write-side API twin of run_batch: validate and ingest one upsert/
    delete batch through the collection's changelog path, enforcing the
    reference's max_upsert_batch cap (config.h:179). Returns the number
    of operations ingested.

    The cap is a REQUEST limit, not a throughput limit — bulk loads
    issue multiple capped requests (or go straight to streaming ingest,
    which has no request framing)."""
    n = changelog.count()
    if n == 0:
        raise ValueError("empty upsert batch")
    if n > config.limits.max_upsert_batch:
        raise ValueError(
            f"batch of {n} exceeds max_upsert_batch="
            f"{config.limits.max_upsert_batch}"
        )
    # NULL op must count as bad: ~isin(...) evaluates to NULL for a NULL
    # op and the filter would silently drop (i.e. accept) the row.
    bad_ops = (
        changelog.filter(
            F.col("op").isNull() | ~F.col("op").isin("UPSERT", "DELETE", "FENCE")
        )
        .limit(1)
        .count()
    )
    if bad_ops:
        raise ValueError("unknown op in batch (expected UPSERT/DELETE/FENCE)")
    collection.ingest(changelog)
    return int(n)
