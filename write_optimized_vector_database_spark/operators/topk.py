"""Exact top-k search (the brute-force rerank primitive and ground-truth
oracle of the reference's two-phase engine).

Reference surface: QueryRequest{query, top_k ≤ 100, ...} → ordered
QueryResult{id, score, ...} (/root/reference/include/woved/types.h:67-82,
118-119) scored by IP / L2 / cosine (types.h:38-42) with the exact scan
implied by rerank (/root/reference/src/cpp/core/config.h:92-93).

Spark design — batch-queries-as-DataFrame (the reference caps a batch at
100 queries, config.h:180; Spark makes the whole pipeline naturally
batched):

1. queries (small, ≤100s of rows) are **broadcast** against the vector
   collection (huge) — no shuffle of the big side;
2. scoring is a JVM-side `zip_with`/`aggregate` fold (whole-stage
   codegen; functions/distance.py);
3. top-k per query is **two-phase**: a per-partition partial top-k
   (mapInPandas over only (query_id, id, score) — the vectors are
   projected away first) shrinks each partition to ≤k rows per query
   BEFORE the shuffle, then a global window rank finishes. At 100 TB the
   shuffle carries k × n_partitions rows per query instead of the full
   scored collection — this is the distributed analog of the
   reference's per-segment scan + merge-heap
   (/root/reference/src/cpp/storage/buffer/msg-buf.h:220-260 merge).

Ties break on ascending id so results are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from write_optimized_vector_database_spark.functions.distance import (
    cosine_similarity,
    dot_product,
    l2_distance,
)

METRICS = ("ip", "l2", "cosine")


def score_column(metric: str, qcol: str, vcol: str):
    """Score expression for a metric; higher is always better (L2 is
    negated so one `DESC` ordering serves all metrics)."""
    if metric == "ip":
        return dot_product(qcol, vcol)
    if metric == "l2":
        return -l2_distance(qcol, vcol)
    if metric == "cosine":
        return cosine_similarity(qcol, vcol)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def _partial_topk(k: int, group_cols: list[str], score_col: str, id_col: str):
    """mapInPandas partial: per Arrow-batch stream of one partition, keep
    only the k best rows per group. Runs map-side, before any shuffle.

    The prune is a NumPy lexsort + per-group rank mask (round 13): the
    previous pandas sort_values + groupby().head() spent most of the
    pass in pandas block management — the kept SET is identical (top-k
    per group under the same (group asc, score desc, id asc) total
    order; (score, id) is unique per group so ties cannot differ)."""

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n == 0:
            return pdf
        keys = [pdf[id_col].to_numpy()]
        s = pdf[score_col].to_numpy()
        # descending score: negate when numeric-safe; string groups
        # never reach here (score is always a float column)
        keys.append(-s)
        codes = None
        for g in group_cols:
            col = pdf[g]
            arr, _ = pd.factorize(col, sort=True)
            codes = arr if codes is None else codes * (arr.max() + 1) + arr
            keys.append(arr)
        order = np.lexsort(tuple(keys))
        gsorted = codes[order]
        new = np.empty(n, dtype=bool)
        new[0] = True
        new[1:] = gsorted[1:] != gsorted[:-1]
        idx = np.arange(n)
        start = np.maximum.accumulate(np.where(new, idx, 0))
        keep = order[(idx - start) < k]
        keep.sort()  # preserve input order of kept rows (stable output)
        return pdf.iloc[keep]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            acc = pdf if acc is None else pd.concat((acc, pdf), ignore_index=True)
            # Re-prune periodically so the accumulator stays O(groups × k).
            if len(acc) > 50_000:
                acc = _prune(acc).reset_index(drop=True)
        if acc is not None and len(acc):
            yield _prune(acc)

    return fn


def jvm_partial_topk(spark, k: int) -> bool:
    """Whether Spark itself puts a map-side partial top-k (a Partial
    `WindowGroupLimit` before the window's exchange) under a
    `row_number() <= k` window: it does for any k up to
    `spark.sql.optimizer.windowGroupLimitThreshold`. The Python
    `mapInPandas` prune then only adds a Python pass per task."""
    threshold = spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold", "1000"
    )
    return 0 < k <= int(threshold)


def topk_per_group(
    scored: DataFrame,
    group_cols: list[str],
    score_col: str,
    id_col: str,
    k: int,
    prune_partitions: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k rows per group, ordered (score DESC, id ASC).

    `prune_partitions=True` inserts the map-side partial top-k; set False
    to keep the plan fully JVM-side (bounded inputs, or k within
    `jvm_partial_topk`). `carry_cols` ride along with the kept rows.
    """
    narrow = scored.select(*group_cols, id_col, score_col, *carry_cols)
    if prune_partitions:
        narrow = narrow.mapInPandas(
            _partial_topk(k, group_cols, score_col, id_col), schema=narrow.schema
        )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        narrow.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .withColumnRenamed("__rank", "rank")
    )


def exact_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "ip",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_col: str = "query_vec",
    prune_partitions: bool = True,
) -> DataFrame:
    """Brute-force exact top-k: broadcast the (small) query set against the
    (huge) vector collection, score JVM-side, two-phase top-k.

    Returns (query_id, vec_id, score, rank) — rank 1..k per query.
    """
    scored = vectors.join(F.broadcast(queries)).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_id_col).alias("vec_id"),
        score_column(metric, query_col, vec_col).alias("score"),
    )
    return topk_per_group(
        scored,
        group_cols=["query_id"],
        score_col="score",
        id_col="vec_id",
        k=k,
        prune_partitions=prune_partitions,
    ).select("query_id", "vec_id", "score", "rank")


def ranked_top_n(df: DataFrame, order_cols: list, n: int, rank_col: str = "rank") -> DataFrame:
    """Global top-n WITH a rank column, scalably.

    `orderBy().limit(n)` compiles to TakeOrderedAndProject — per-partition
    heaps merged on the driver, O(n) rows moved — and only then does the
    rank window run, over exactly n rows. The naive
    `row_number().over(Window.orderBy(...))` + filter runs a SINGLE-TASK
    window over the entire input first (Spark's WindowExec warning), which
    dies at scale even though both forms return identical rows.
    Order columns must define a total order (tie-break on ids) so the
    result is deterministic.
    """
    top = df.orderBy(*order_cols).limit(n)
    w = Window.orderBy(*order_cols)  # n rows only — single task is fine
    return top.withColumn(rank_col, F.row_number().over(w))
