"""Raster↔vector grid aggregation (zoom-leveled density grids).

Reference analogues: CDB_RectangleGrid (/root/reference/src/pg/sql/
cdb_utils.sql:19-96) generates grid cells; CDB_Contour
(/root/reference/src/pg/sql/19_contour.sql:126-135) aggregates per cell/bin.
Our engine's raster side is the cellv1 key itself: a density grid at zoom z
is one groupBy over the cell id at that resolution — pure map-side-combine
aggregation, the cheapest possible distributed plan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.functions.cells import (
    CELL_M, cell_expr, cell_sql, ring_cells_expr)
from crankshaft_spark.functions.distance import (
    planar_dist2, planar_dist2_sql)


def density_grid(
    pts: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    cell_sizes: list[float] = (1.0,),
    value_col: str | None = None,
) -> DataFrame:
    """(zoom, cell, n [, v_sum]) — one row per non-empty cell per zoom level;
    zoom index is the position in ``cell_sizes``."""
    parts = []
    for zoom, size in enumerate(cell_sizes):
        g = pts.withColumn("cell", cell_expr(F.col(x), F.col(y), size)).groupBy(
            "cell"
        )
        aggs = [F.count("*").alias("n")]
        if value_col is not None:
            aggs.append(F.sum(value_col).alias("v_sum"))
        parts.append(g.agg(*aggs).select(F.lit(zoom).alias("zoom"), "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def density_pyramid(
    pts: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    base_size: float = 1.0,
    factors: tuple[int, ...] = (4,),
    value_col: str | None = None,
) -> DataFrame:
    """Zoom pyramid rolled up from the finest level — ONE point scan total.

    ``density_grid`` re-aggregates the raw points once per zoom level; at
    100 TB a z-level pyramid must instead aggregate the base zoom once and
    derive every coarser level from the previous one (a groupBy over the
    tiny cell table, not the point table).  Factors CHAIN: zoom ``i+1`` is
    derived from zoom ``i``, so its cell size is ``base_size *
    prod(factors[:i+1])`` (e.g. base 0.25 with factors (4, 8) gives zoom
    sizes 0.25, 1.0, 8.0).  Each factor must be a positive power of two,
    which makes the rollup *bit-identical* to direct binning:

      - ``fl(v / (s * 2^k)) == fl(v / s) / 2^k`` exactly (dividing an IEEE
        double by a power of two only shifts the exponent), and
      - ``floor(r / 2^k) == floor(floor(r) / 2^k)`` for any real r and
        positive integer 2^k (nested-floor identity),

    so ``parent_ix = child_ix div 2^k`` reproduces ``floor((v+off)/size)``
    at the coarser size for every representable coordinate.  The driver's
    ``grid_density`` oracle (direct per-zoom binning in DuckDB) value-hash
    checks this equivalence end to end.

    Counts (and any integer/decimal ``value_col``) roll up exactly; float
    sums roll up with a different addition order than direct binning —
    callers comparing float ``v_sum`` across strategies need the usual
    6dp pin.  Cell ids are non-negative in the lon/lat domain (cellv1 packs
    ``ix*2^32 + iy`` with shifted origins), so BIGINT ``div``/``%`` extract
    the (ix, iy) pair without sign headaches.

    Reference analogue: the zoom-leveled aggregation CDB_RectangleGrid users
    build per resolution (/root/reference/src/pg/sql/cdb_utils.sql:19-96) —
    re-expressed as a single-scan rollup, which the reference's per-query
    model cannot do.
    """
    for f in factors:
        if f < 1 or (f & (f - 1)) != 0:
            raise ValueError(
                f"pyramid factor {f} is not a power of two; rollup would "
                "not be bit-identical to direct binning"
            )
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("v_sum"))
    level = (
        pts.withColumn("cell", cell_expr(F.col(x), F.col(y), base_size))
        .groupBy("cell")
        .agg(*aggs)
    )
    parts = [level.select(F.lit(0).alias("zoom"), "*")]
    roll = [F.sum("n").alias("n")]
    if value_col is not None:
        roll.append(F.sum("v_sum").alias("v_sum"))
    for zoom, f in enumerate(factors, start=1):
        # ix = cell div 2^32, iy = cell % 2^32; parent packs (ix div f,
        # iy div f).  All-BIGINT arithmetic — no double round-trip.
        # Guard the cellv1 domain LOUDLY: points left of -180 lon / below
        # -90 lat give a negative cell id, where truncate-toward-zero
        # div/% would silently roll counts into the wrong parent; the
        # check runs on the aggregated CELL table (cheap), not per point.
        parent = F.expr(
            f"CASE WHEN cell >= 0 THEN"
            f" ((cell div {CELL_M}) div {f}) * {CELL_M}"
            f" + ((cell % {CELL_M}) div {f})"
            f" ELSE CAST(raise_error('density_pyramid: negative cellv1 id"
            f" — coordinates outside the lon/lat domain') AS BIGINT) END"
        ).alias("cell")
        level = level.groupBy(parent).agg(*roll)
        parts.append(level.select(F.lit(zoom).alias("zoom"), "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _kde_ring(bandwidth: float, cell_size: float) -> int:
    """Exact ring radius for KDE support: a cell CENTER is within
    ``bandwidth`` of some point of cell C only if its index offset
    satisfies |delta| < bandwidth/cell_size + 0.5 (center sits at +0.5;
    the point anywhere in [0, 1) of its own cell) — so the largest
    reachable integer offset is ceil(b/s + 0.5) - 1.  Overshooting at the
    exact-boundary case is harmless (the d^2 < h^2 refinement is exact);
    undershooting would silently drop contributions."""
    return max(0, math.ceil(bandwidth / cell_size + 0.5) - 1)


def kde_grid(
    pts: DataFrame, *, cell_size: float, bandwidth: float,
    x: str = "x", y: str = "y", scale: int = 10 ** 9,
) -> DataFrame:
    """(cell, n_pts, kde_fp) — quartic-kernel density estimate sampled at
    cell centers, the heatmap surface next to the raw count grids of
    ``density_grid`` (reference ecosystem analogue: CARTO's density /
    heatmap layers over CDB_RectangleGrid cells; kernel per Silverman
    1986 quartic K(u) = (1-u^2)^2 on u < 1, unnormalized).

    kde_fp is FIXED-POINT: sum over contributing points of
    floor(scale * (1 - d^2/h^2)^2), d = point-to-center distance.  floor
    of a bit-identical double is engine-exact and BIGINT sums commute, so
    the value is identical at any parallelism and in the DuckDB oracle —
    a raw float kernel sum would drift in the last ulp with partitioning.
    Density in natural units is kde_fp / scale.  Only cells receiving at
    least one in-bandwidth point appear (sparse support, like the count
    grids).  ANSI-mode BIGINT sum fails LOUDLY on overflow; scale bounds
    points-per-disc at ~2^63/scale (9.2e9 at the default) — lower
    ``scale`` for denser corpora.

    Plan shape: one point scan exploded to the exact support ring
    ((2R+1)^2 cells, built per row by ring_cells_expr's Column form: a
    constant array literal of that size outgrew codegen's 64 KB method
    limit at R = 10 and the driver heap at R = 20), one map-side-
    combinable groupBy on the cell key.  No joins, no Python.
    """
    if bandwidth <= 0 or cell_size <= 0:
        raise ValueError("kde_grid: bandwidth and cell_size must be > 0")
    ring = _kde_ring(bandwidth, cell_size)
    h2 = float(bandwidth) * float(bandwidth)
    cell = cell_expr(F.col(x), F.col(y), cell_size)
    ex = pts.select(
        F.col(x).alias("_x"), F.col(y).alias("_y"),
        F.explode(ring_cells_expr(cell, F.lit(ring))).alias("cell"))
    c = F.col("cell")
    # FLOOR-mod decode (((c % M) + M) % M): ring cells of points near the
    # lon=-180 / lat=-90 edge go negative, where plain sign-of-dividend %
    # would mis-center them and silently drop their kernel mass
    iy = ((c % CELL_M) + F.lit(CELL_M)) % CELL_M
    cx = ((c - iy) / CELL_M + F.lit(0.5)) * cell_size - F.lit(180.0)
    cy = (iy + F.lit(0.5)) * cell_size - F.lit(90.0)
    d2 = planar_dist2(F.col("_x"), F.col("_y"), cx, cy)
    t = d2 / F.lit(h2)
    w = (F.lit(1.0) - t) * (F.lit(1.0) - t)
    return (
        ex.where(d2 < F.lit(h2))
        .groupBy("cell")
        .agg(F.count("*").alias("n_pts"),
             F.sum(F.floor(w * F.lit(float(scale))).cast("long"))
              .alias("kde_fp"))
    )


def kde_oracle_sql(
    pts_sql: str, *, cell_size: float, bandwidth: float, x: str = "x",
    y: str = "y", scale: int = 10 ** 9,
) -> str:
    """DuckDB mirror of :func:`kde_grid` — same ring explode (offset list
    literal), same operand order in every float expression, same
    fixed-point floor, so kde_fp matches bit-for-bit."""
    ring = _kde_ring(bandwidth, cell_size)
    offsets = ", ".join(
        str(dx * CELL_M + dy)
        for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1))
    cell = cell_sql(x, y, float(cell_size))
    h2 = repr(float(bandwidth) * float(bandwidth))
    size = repr(float(cell_size))
    d2 = planar_dist2_sql("_x", "_y", "cx", "cy")
    return f"""
    SELECT cell, count(*) AS n_pts,
           CAST(sum(CAST(floor(((1.0 - (({d2}) / {h2}))
               * (1.0 - (({d2}) / {h2}))) * {float(scale)!r})
               AS BIGINT)) AS BIGINT) AS kde_fp
    FROM (
      SELECT _x, _y, cell,
             ((cell - iy) / {CELL_M} + 0.5) * {size} - 180.0 AS cx,
             (iy + 0.5) * {size} - 90.0 AS cy
      FROM (SELECT {x} AS _x, {y} AS _y, cell,
                   ((cell % {CELL_M}) + {CELL_M}) % {CELL_M} AS iy
            FROM (SELECT {x}, {y}, {cell} + off.o AS cell
                  FROM ({pts_sql}) kp, UNNEST([{offsets}]) AS off(o))))
    WHERE {d2} < {h2}
    GROUP BY cell"""


def rectangle_grid(
    spark,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    width: float,
    height: float,
) -> DataFrame:
    """Generate grid cells covering [x0,x1]×[y0,y1] → (cx, cy, xmin, ymin,
    xmax, ymax) — pure sequence/explode, no driver loop (CDB_RectangleGrid
    parity for axis-aligned extents)."""
    import math

    nx = max(1, math.ceil((x1 - x0) / width))
    ny = max(1, math.ceil((y1 - y0) / height))
    return (
        spark.range(1)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(nx - 1))).alias("cx")
        )
        .select(
            "cx", F.explode(F.sequence(F.lit(0), F.lit(ny - 1))).alias("cy")
        )
        .select(
            "cx",
            "cy",
            (F.lit(x0) + F.col("cx") * width).alias("xmin"),
            (F.lit(y0) + F.col("cy") * height).alias("ymin"),
            (F.lit(x0) + (F.col("cx") + 1) * width).alias("xmax"),
            (F.lit(y0) + (F.col("cy") + 1) * height).alias("ymax"),
        )
    )
