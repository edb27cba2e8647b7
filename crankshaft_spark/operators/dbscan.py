"""Density-based spatial clustering (DBSCAN) over the cell index.

The reference bundles only centroid clustering (CDB_KMeans,
/root/reference/src/pg/sql/11_kmeans.sql) — but its host ecosystem's
standard density clusterer is PostGIS ``ST_ClusterDBSCAN(geom, eps,
minpoints)``, which CARTO exposes alongside crankshaft for point
blobs with noise.  This module supplies that surface Spark-first
(Ester et al. 1996, "A Density-Based Algorithm for Discovering
Clusters"), composed entirely from machinery the engine already
gates:

  1. eps-neighbor edges from ONE ring-1 equi-join on the cellv1 grid
     at cell_size = eps (knn._candidate_pairs: any pair within eps
     shares a 3x3 cell block; the right point lives in exactly one cell,
     so no pair appears twice and no dedup shuffle is needed);
  2. |N_eps(p)| (self included, per the paper) from a map-side-
     combinable count; core points are n_eps >= min_pts;
  3. clusters = connected components of the core-core eps-graph via
     dedup_components' block-local solve and contraction (each round
     one edge shuffle and a bounded numpy solve per Arrow batch, so a
     long core chain costs a few rounds, not one per hop);
  4. border points (non-core with >= 1 core neighbor) join the MIN
     component label among their core neighbors — a pinned tie-break
     where the paper leaves border assignment scan-order-dependent;
     everything else is noise (cluster NULL).

Every stage but the components' numpy block stage is a set-based JVM
plan, and that stage solves each block exactly, so results are
bit-identical at any parallelism and block size.  Labels are the min
core id of the component — deterministic and oracle-replayable.

Scale notes (100 TB): candidate volume is sum over cells of
n_cell * n_ring — DBSCAN's intrinsic density term.  Uniformly dense
data keeps it linear in input; a pathological hot cell (n points
inside one eps-cell) costs n^2 candidates in that cell, the same
worst case as the algorithm's neighborhood definition itself.  If a
corpus has such cells, pre-aggregate coincident points (weight
column) or shrink eps; the join itself stays an AQE-managed shuffle
equi-join, never a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from crankshaft_spark.functions.cells import CELL_M, cell_sql
from crankshaft_spark.functions.distance import planar_dist2_sql
from crankshaft_spark.operators._fixpoint import _Scope
from crankshaft_spark.operators.dedup import dedup_components, reach_ctes
from crankshaft_spark.operators.knn import _radius_pairs

__all__ = ["dbscan", "dbscan_oracle_sql"]


def dbscan(
    df: DataFrame, *, eps: float, min_pts: int, id_col: str = "id",
    x: str = "x", y: str = "y", max_rounds: int = 50,
) -> DataFrame:
    """(id, cluster, role, n_eps) — DBSCAN over planar points.

    role is 'core' | 'border' | 'noise'; cluster is the component's
    min core id (NULL for noise); n_eps counts the closed
    eps-neighborhood including the point itself.  min_pts >= 1;
    min_pts = 1 degenerates to every point being its own core (the
    paper's convention), still well-defined here.
    """
    if min_pts < 1:
        raise ValueError(f"dbscan: min_pts must be >= 1, got {min_pts}")
    if eps <= 0:
        raise ValueError(f"dbscan: eps must be > 0, got {eps}")
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(x).alias("x"), F.col(y).alias("y"),
    )
    with _Scope(df.sparkSession) as scope:
        # (id, nbr) eps-neighbour pairs, both directions: the ring-1 block
        # at cell_size = eps, closed ball d² <= eps² (exact on the
        # integer-valued coordinates the oracle pins).  Three consumers
        # (counts, core pairs, border join): a lazy cut is filled by the
        # first job that reads it, so it costs no job
        edges = scope.cut(
            _radius_pairs(pts, pts, eps, eps, exclude_self=True)
            .where(F.col("d2") <= F.lit(float(eps) * float(eps)))
            .select("id", "nbr"), eager=False)
        ncnt = edges.groupBy("id").agg(F.count("*").alias("n_nbrs"))
        stats = (
            pts.join(ncnt, "id", "left")
            .select("id",
                    (F.coalesce(F.col("n_nbrs"), F.lit(0)) + F.lit(1))
                    .cast("long").alias("n_eps"))
        )
        cores = stats.where(F.col("n_eps") >= F.lit(int(min_pts))) \
                     .select("id")
        core_pairs = (
            edges.where(F.col("id") < F.col("nbr"))
            .join(cores, "id")
            .join(cores.select(F.col("id").alias("nbr")), "nbr")
            .select(F.col("id").alias("a"), F.col("nbr").alias("b"))
        )
        comp = scope.own(dedup_components(
            cores.select(F.col("id").alias("doc_id")), core_pairs,
            max_rounds=max_rounds,
        )).select(F.col("doc_id").alias("id"),
                  F.col("component").cast("long").alias("cluster"))
        # border: non-core with a core neighbor takes the MIN core
        # neighbor's component (pinned tie-break; the paper leaves this
        # scan-order-dependent when a border point touches two clusters)
        border = (
            edges.join(comp.select(F.col("id").alias("nbr"),
                                   F.col("cluster").alias("ncl")), "nbr")
            .join(cores, "id", "left_anti")
            .groupBy("id").agg(F.min("ncl").alias("cluster"))
        )
        labeled = (
            comp.select("id", "cluster", F.lit("core").alias("role"))
            .unionByName(
                border.select("id", "cluster", F.lit("border").alias("role")))
        )
        rows = scope.cut(
            stats.join(labeled, "id", "left")
            .select("id", F.col("cluster").cast("long").alias("cluster"),
                    F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
                    "n_eps"))
        scope.keep(rows)
    return rows


def dbscan_oracle_sql(pts_sql: str, *, eps: float, min_pts: int) -> str:
    """DuckDB mirror of :func:`dbscan` — same cell-block candidate join
    (so the oracle never goes all-pairs either) and the UNION-terminating
    reach recursion of components_oracle_sql for the core components.
    ``pts_sql`` must yield (id, x, y) with integer-valued coordinates so
    the squared-distance refinement is engine-exact.
    """
    offsets = ", ".join(
        str(dx * CELL_M + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    cell = cell_sql("x", "y", float(eps))
    eps2 = repr(float(eps) * float(eps))
    d2 = planar_dist2_sql("l.x", "l.y", "r.nx", "r.ny")
    return f"""
    WITH RECURSIVE pts AS MATERIALIZED ({pts_sql}),
    lft AS MATERIALIZED (
      SELECT id, x, y, {cell} + off.o AS cell
      FROM pts, UNNEST([{offsets}]) AS off(o)),
    rgt AS MATERIALIZED (
      SELECT id AS nid, x AS nx, y AS ny, {cell} AS cell FROM pts),
    edges AS MATERIALIZED (
      SELECT l.id, r.nid FROM lft l JOIN rgt r USING (cell)
      WHERE l.id <> r.nid AND {d2} <= {eps2}),
    stats AS MATERIALIZED (
      SELECT p.id, CAST(COALESCE(c.n, 0) + 1 AS BIGINT) AS n_eps
      FROM pts p LEFT JOIN (
        SELECT id, count(*) AS n FROM edges GROUP BY id) c USING (id)),
    cores AS MATERIALIZED (
      SELECT id FROM stats WHERE n_eps >= {int(min_pts)}),
    ce AS MATERIALIZED (
      SELECT e.id AS src, e.nid AS dst FROM edges e
      JOIN cores c1 ON e.id = c1.id JOIN cores c2 ON e.nid = c2.id),
    {reach_ctes("cores", "ce")},
    comp AS MATERIALIZED (
      SELECT id, CAST(min(lbl) AS BIGINT) AS cluster
      FROM reach GROUP BY id),
    border AS MATERIALIZED (
      SELECT e.id, min(c.cluster) AS cluster
      FROM edges e JOIN comp c ON e.nid = c.id
      WHERE e.id NOT IN (SELECT id FROM cores)
      GROUP BY e.id),
    lab AS (
      SELECT id, cluster, 'core' AS role FROM comp
      UNION ALL
      SELECT id, cluster, 'border' AS role FROM border)
    SELECT s.id, l.cluster,
           COALESCE(l.role, 'noise') AS role, s.n_eps
    FROM stats s LEFT JOIN lab l USING (id)"""
