"""Point-pattern statistics: Ripley's K function.

The classic second-order point-process statistic (Ripley 1976; PySAL
``pointpats.k`` is the reference ecosystem's public surface next to the
crankshaft clustering stack — the reference itself ships the
PySAL-backed Moran/Getis half of spatial statistics,
/root/reference/src/py/crankshaft/crankshaft/pysal_utils/pysal_utils.py:23-35,
and K is the density-independent companion those users reach for).

Estimator (naive, no edge correction — documented):

    K̂(d) = A · #{ordered pairs (i, j), i ≠ j, dist(i,j) ≤ d} / (n·(n−1))

Under CSR K̂(d) ≈ πd²; clustering reads above, inhibition below.

Scale shape: ONE cell-ring candidate join at cell_size = max(radii)
(the shared knn._candidate_pairs kernel, keyed on (cell, group): the
ring-1 3×3 block ⊇ every pair within max d), then conditional integer
counts for ALL radii from that single candidate set — never an
all-pairs product; groups are the data-parallel axis.  Counts are exact integers (integer coordinates →
integer d²), so the whole statistic is oracle-exact; the only float is
the final A·cnt/(n(n−1)) ratio in one pinned operand order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.operators.knn import _radius_pairs


def ripley_k(
    points: DataFrame,
    *,
    radii,
    area: float,
    group_col: str = "grp",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Per-group K̂ at each radius → (grp, d, n_pts, k_est).

    ``points`` carries integer-valued coordinates (the exact-d² oracle
    contract); ``area`` is the observation-window area A (a pinned
    literal on both engines).
    """
    rads = sorted(int(r) for r in radii)
    if not rads or rads[0] <= 0:
        raise ValueError(f"ripley_k: radii must be positive, got {radii}")
    maxd = float(rads[-1])
    base = points.select(
        F.col(group_col).alias("_g"),
        F.col(x).cast("long").alias("x"), F.col(y).cast("long").alias("y"))
    # long coordinates: d² is an exact integer, and d² > 0 is the
    # self-exclusion (coincident points are not pairs)
    pairs = _radius_pairs(base, base, maxd, maxd, on=("_g",), left_cols=(),
                          right_cols=()).where(F.col("d2") > 0)
    cnts = pairs.groupBy("_g").agg(*[
        F.sum(F.when(F.col("d2") <= r * r, 1).otherwise(0))
        .alias(f"_c{i}")
        for i, r in enumerate(rads)])
    n_t = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    j = n_t.join(cnts, "_g", "left")
    out = None
    for i, r in enumerate(rads):
        cnt = F.coalesce(F.col(f"_c{i}"), F.lit(0)).cast("long")
        n = F.col("_n")
        k_est = F.when(
            n > 1, (F.lit(float(area)) * cnt) / (n * (n - 1))
        ).otherwise(F.lit(0.0))
        row = j.select(
            F.col("_g").alias(group_col), F.lit(r).cast("long").alias("d"),
            n.alias("n_pts"), k_est.alias("k_est"))
        out = row if out is None else out.unionByName(row)
    return out


def ripley_oracle_sql(
    points_sql: str,
    *,
    radii,
    area: float,
) -> str:
    """DuckDB mirror: brute per-group pair join (the cell prefilter is a
    performance device, not semantics — candidate ⊇ pairs ≤ max d, so
    counts agree exactly), same pinned A·cnt/(n(n−1)) arithmetic.
    ``points_sql`` must yield (grp, x, y) integer-valued."""
    rads = sorted(int(r) for r in radii)
    rsel = ", ".join(
        f"CAST(sum(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i, r in enumerate(rads))
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT g AS grp, CAST({r} AS BIGINT) AS d, n AS n_pts,
           CASE WHEN n > 1
                THEN ({float(area)!r} * COALESCE(c{i}, 0)) / (n * (n - 1))
                ELSE 0.0 END AS k_est
    FROM rk_j"""
        for i, r in enumerate(rads))
    return f"""
    WITH rk_in AS (
      SELECT grp AS g, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
      FROM ({points_sql})),
    rk_pairs AS (
      SELECT a.g,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM rk_in a JOIN rk_in b
        ON a.g = b.g AND (a.x <> b.x OR a.y <> b.y)),
    rk_c AS (SELECT g, {rsel} FROM rk_pairs GROUP BY g),
    rk_n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM rk_in GROUP BY g),
    rk_j AS (SELECT rk_n.g, rk_n.n, rk_c.* EXCLUDE (g)
             FROM rk_n LEFT JOIN rk_c ON rk_n.g = rk_c.g)
{arms}"""


def quadrat_vmr(
    points: DataFrame,
    *,
    cell_size: float,
    frame_cells: int,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Quadrat-count index of dispersion → one row (vmr, expected):
    VMR = var(counts)/mean(counts) over a FIXED frame of ``frame_cells``
    quadrats (the classic CSR quadrat test; VMR ≈ 1 Poisson, > 1
    clustered, < 1 regular).  Zero quadrats enter through the literal
    frame count — moments come from the occupied-cell aggregate alone,
    so no dense cell table is ever materialized:

        mean = Σc / F;  VMR = (Σc²/F − mean²) / mean

    Integer Σc/Σc² + one pinned-order ratio — oracle-exact.  The caller
    pins ``frame_cells`` to the cell-aligned bounding box of the point
    domain (partial edge cells counted whole — documented bias of the
    fixed-frame form).
    """
    from crankshaft_spark.functions.cells import cell_expr

    counts = (
        points.select(cell_expr(F.col(x), F.col(y), cell_size))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("_c")))
    fc = float(frame_cells)
    s1, s2 = F.sum("_c"), F.sum(F.col("_c") * F.col("_c"))
    agg = counts.agg(s1.alias("_s1"), s2.alias("_s2"))
    mean = F.col("_s1") / F.lit(fc)
    vmr = F.when(
        F.col("_s1") > 0,
        (F.col("_s2") / F.lit(fc) - mean * mean) / mean,
    ).otherwise(F.lit(0.0))
    return agg.select(vmr.alias("vmr"), F.lit(1.0).alias("expected"))


def clark_evans(
    points: DataFrame,
    nn_edges: DataFrame,
    *,
    area: float,
) -> DataFrame:
    """Clark–Evans nearest-neighbour ratio → one row (r_stat, expected):
    R = mean observed NN distance / (0.5 / sqrt(n/A)), the CSR
    expectation (Clark & Evans 1954; no edge correction — documented).
    R < 1 clustered, > 1 regular, ≈ 1 Poisson.

    ``nn_edges`` must carry (rank, d2) with rank = 1 rows being each
    point's nearest neighbour (knn_edges output — its straggler
    fallback guarantees every point has a rank-1 row).  The mean is a
    float sum of sqrt (order-sensitive in the last ulp); callers round
    the O(1) output to 6dp per the repo pin rule.
    """
    n_t = points.agg(F.count(F.lit(1)).alias("_n"))
    m_t = (
        nn_edges.where(F.col("rank") == 1)
        .agg(F.sum(F.sqrt(F.col("d2"))).alias("_sd"),
             F.count(F.lit(1)).alias("_nd")))
    j = m_t.join(F.broadcast(n_t))
    mnn = F.col("_sd") / F.col("_nd")
    r = F.when(
        F.col("_n") > 0,
        mnn / (F.lit(0.5) / F.sqrt(F.col("_n") / F.lit(float(area)))),
    ).otherwise(F.lit(0.0))
    return j.select(r.alias("r_stat"), F.lit(1.0).alias("expected"))
