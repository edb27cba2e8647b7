"""Gravity / Huff model (CDB_Gravity).

Reference: /root/reference/src/pg/sql/07_gravity.sql:32-115 — for each
source, candidate targets within ``radius`` (ST_DWithin, :84-91), then
distance-decay share h = 100·(w/d)/Σ_targets(w/d) and hpop = pop·h/100
(denominator per source, :93-100).

Distributed form: the radius join is the shared cellv1 candidate kernel
(knn._radius_pairs: ring ceil(radius/cell_size), capped) + exact distance
filter; the denominator is one groupBy over the pair table — no per-row
subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.operators.knn import _radius_pairs


def gravity_huff(
    sources: DataFrame,
    targets: DataFrame,
    *,
    radius: float,
    cell_size: float | None = None,
    pop_col: str = "pop",
    weight_col: str = "weight",
    minval: float = -10e307,
) -> DataFrame:
    """sources: (id, x, y, pop); targets: (id, x, y, weight).

    Returns (source_id, target_id, dist, h, hpop) for all pairs with
    0 < dist <= ``radius`` (planar units).  Targets with weight <=
    ``minval`` are excluded before the join (the reference's ``WHERE tw >
    minval``, 07_gravity.sql:89; default excludes nothing).  ``cell_size``
    (default ``radius``) is the candidate grid; ``radius`` and
    ``cell_size`` must be > 0.
    """
    if not radius > 0:
        raise ValueError(f"gravity_huff: radius must be > 0, got {radius}")
    if cell_size is not None and not cell_size > 0:
        raise ValueError(
            f"gravity_huff: cell_size must be > 0, got {cell_size}")
    src = sources.select(
        F.col("id").alias("source_id"), "x", "y", F.col(pop_col).alias("pop"))
    tgt = targets.where(F.col(weight_col) > F.lit(minval)).select(
        F.col("id").alias("target_id"), "x", "y", F.col(weight_col).alias("w"))
    pairs = (
        _radius_pairs(src, tgt, radius,
                      radius if cell_size is None else cell_size,
                      left_cols=("source_id", "pop"),
                      right_cols=("target_id", "w"))
        .withColumn("dist", F.sqrt("d2"))
        .where((F.col("dist") <= F.lit(radius)) & (F.col("dist") > 0))
    )
    denom = pairs.groupBy("source_id").agg(
        F.sum(F.col("w") / F.col("dist")).alias("_den")
    )
    return (
        pairs.join(denom, "source_id")
        .select(
            "source_id",
            "target_id",
            "dist",
            (F.lit(100.0) * (F.col("w") / F.col("dist")) / F.col("_den")).alias("h"),
            (F.col("pop") * (F.col("w") / F.col("dist")) / F.col("_den")).alias("hpop"),
        )
    )
