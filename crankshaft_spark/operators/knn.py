"""Distributed exact k-nearest-neighbor self-join.

Reference behavior: per-row ordered GiST index scan
``ORDER BY j.the_geom <-> i.the_geom ASC LIMIT k`` with deterministic
id-ascending output
(/root/reference/src/py/crankshaft/crankshaft/pysal_utils/pysal_utils.py:132-160).
That plan is inherently single-node; this operator re-derives the same
*result* as a distributed filter-and-refine plan:

  1. encode every point into a grid cell (pure column math) — either the
     rectangular cellv1 grid or the H3-style hexv1 grid (``grid="hex"``:
     the "kNN weights per hex neighborhood" face of the index; candidates
     come from the hex k-ring instead of the square ring block);
  2. candidate pairs via an equi shuffle join: left side exploded to its
     k-ring of cells, right side keyed by cell — Catalyst/AQE handle
     partition coalescing and skew-splitting of hot (urban) cells;
  3. exact distance + ``row_number() over (partition by id
     order by d2, nbr)`` top-k;
  4. *exactness guarantee*: a neighbor outside the ring block is at planar
     distance > ring*cell_size, so any point whose k-th candidate distance
     exceeds that bound (or with < k candidates) is re-run with a doubled
     ring.  The driver loop converges in O(log(domain/cell_size)) passes and
     pass ≥ 2 touches only the sparse stragglers, so at 1000-executor scale
     the cost is one shuffle join plus a tiny remainder join.

Ties are broken by (distance, neighbor id) — pinned, deterministic, and
identical to the O(n²) oracle SQL used by the correctness harness.  The
cell scheme is a performance knob, never a correctness knob: both grids
return the identical exact edge list (tests/test_knn.py parametrizes the
brute-force comparison over both).

``_candidate_pairs`` is the package's one point-pair cell join (ring
explode → equi-join on the cell key → exact d²).  Its callers: the kNN
loop, ``within_distance``, ``dbscan``'s eps edges, ``ripley_k``'s pair
counts (extra group key), ``gravity_huff``'s source→target pairs
(payload columns) and GWR's fixed-radius and per-point-radius kernel
supports (per-row ``Column`` ring).  Each caller keeps its own refine
predicate.  Radius callers go through ``_radius_pairs``, the one place
that turns (radius, cell size) into a grid and a constant ring; the ring
is capped at ``_RING_CAP``, below the size where the literal offset
array breaks whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crankshaft_spark.functions.cells import (
    cell_expr, hex_cell_expr, hex_ring_expr, ring_cells_expr)
from crankshaft_spark.functions.distance import planar_dist2


def _ring_guarantee2(ring: int, cell_size: float, grid: str) -> float:
    """Squared lower bound on the distance from a point to ANY point whose
    cell lies outside its ring-``ring`` block — the exactness certificate.

    rect: a neighbor outside the Chebyshev ring is separated by strictly
    more than ``ring*cell_size`` along some axis (floor-binning makes the
    bound strict — see test_knn_matches_bruteforce).
    hex: a neighbor outside the hex k-ring sits in a hex at axial distance
    d >= ring+1; hex centers at axial distance d are >= 1.5*d*R apart (the
    inradius of the ring-d hexagon of centers — the corner centers are the
    farther sqrt(3)*d*R), and each point is within the circumradius R of
    its own center, so the separation is >= (1.5*(ring+1) - 2)*R.  That
    bound is attainable in the limit (corner-aligned points), so it is
    shaved by 0.1% to keep the acceptance test strictly conservative —
    a shaved bound only defers a row to the next ring, never mis-resolves.
    """
    if grid == "hex":
        g = (1.5 * (ring + 1) - 2.0) * cell_size * 0.999
    else:
        g = ring * cell_size
    return float(g) ** 2


#: largest constant ring a radius join explodes to.  A constant ring is a
#: literal array of (2r+1)² cell offsets inside generated code.  Measured
#: on gravity_huff (200 sources, 50 targets, radius 30; local[3] on a
#: 4-vCPU host, mean of 2 warm calls): ring 3 1.1 s, ring 8 2.1 s, ring 12
#: 3.7 s, ring 14 5.1 s; from ring 16 on Spark logs "Code grows beyond
#: 64 KB" and falls back to interpreted evaluation (ring 20 7.1 s).  At
#: ring r the candidate disc costs ((2r+1)/r)² radius² of area, only 4 %
#: more at ring 8 than at ring 12, so a finer grid is coarsened to ring 8.
_RING_CAP = 8

#: right-side names in a candidate pair (the left side keeps its own).
_NBR = {"id": "nbr", "x": "nx", "y": "ny"}


def _candidate_pairs(
    left: DataFrame, pts: DataFrame, ring, exclude_self: bool = False,
    grid: str = "rect", *, on=(), left_cols=("id",), right_cols=("id",),
) -> DataFrame:
    """(*left_cols, *right_cols, *on, d2) candidate pairs: `left` exploded
    to its ring-`ring` cell block (rect) or hex k-ring, equi-joined to
    `pts` on its home cell plus the extra keys `on`, exact planar d²
    attached.  Both sides carry (x, y, cell); a right-side ``id`` comes
    out as ``nbr``.  `ring` is an int or, on the rect grid, a per-row
    Column over `left`'s columns.  The ONE cell-join candidate kernel
    (module docstring lists its callers): a tuned join shape must not
    diverge between them, and each caller applies its own refine."""
    ring_arr = (hex_ring_expr(F.col("cell"), ring) if grid == "hex"
                else ring_cells_expr(F.col("cell"), ring))
    lhs = left.select(
        *left_cols, *on, "x", "y",
        F.explode(ring_arr).alias("cell"),
    )
    rhs = pts.select(
        *[F.col(c).alias(_NBR.get(c, c)) for c in (*right_cols, "x", "y")],
        *on, "cell",
    )
    cand = lhs.join(rhs, ["cell", *on])
    if exclude_self:
        cand = cand.where(F.col("id") != F.col("nbr"))
    return cand.select(
        *left_cols, *[_NBR.get(c, c) for c in right_cols], *on,
        planar_dist2(F.col("x"), F.col("y"), F.col("nx"), F.col("ny")).alias("d2"),
    )


def _radius_pairs(left: DataFrame, pts: DataFrame, radius: float,
                  cell_size: float, **kw) -> DataFrame:
    """Kernel candidates holding every pair within ``radius``: both sides
    keyed on a ``cell_size`` grid, ring ceil(radius/cell_size), or — when
    that ring passes _RING_CAP — on the coarser radius/_RING_CAP grid at
    the cap.  ring·size covers the radius either way; the caller refines."""
    ring = max(1, math.ceil(radius / cell_size))
    if ring > _RING_CAP:
        cell_size, ring = radius / _RING_CAP, _RING_CAP
    key = cell_expr(F.col("x"), F.col("y"), cell_size)
    return _candidate_pairs(left.withColumn("cell", key),
                            pts.withColumn("cell", key), ring, **kw)


def _topk_for(
    left: DataFrame, pts: DataFrame, k: int, ring: int, cell_size: float,
    exclude_self: bool, grid: str = "rect",
) -> DataFrame:
    """Top-k candidates for `left` points against `pts` within `ring` cells.

    Returns (id, nbr, d2, rank, knn_cnt, knn_maxd2).
    """
    cand = _candidate_pairs(left, pts, ring, exclude_self, grid)
    w = Window.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nbr").asc())
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    stats = Window.partitionBy("id")
    return topk.withColumn("knn_cnt", F.count("*").over(stats)).withColumn(
        "knn_maxd2", F.max("d2").over(stats)
    )


def _norm_points(df: DataFrame, id_col: str, x: str, y: str,
                 cell_size: float, grid: str = "rect") -> DataFrame:
    if grid not in ("rect", "hex"):
        raise ValueError(f"knn grid must be 'rect' or 'hex', got {grid!r}")
    key = (hex_cell_expr(F.col("x"), F.col("y"), cell_size)
           if grid == "hex"
           else cell_expr(F.col("x"), F.col("y"), cell_size))
    return (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(x).cast("double").alias("x"),
            F.col(y).cast("double").alias("y"),
        )
        .na.drop(subset=["id", "x", "y"])
        .withColumn("cell", key)
    )


def knn_edges(
    df: DataFrame,
    k: int = 5,
    *,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    cell_size: float = 1.0,
    initial_ring: int = 1,
    domain_span: float = 360.0,
    grid: str = "rect",
    persist_registry: list | None = None,
) -> DataFrame:
    """Exact kNN edge list ``(id, nbr, d2, rank)`` for a point DataFrame
    against itself (self-pairs excluded), matching the reference's kNN
    neighbor query semantics.  ``grid="hex"`` indexes candidates per hexv1
    neighborhood (H3-style k-ring) instead of the rectangular ring block —
    same exact result, different candidate-generation locality."""
    pts = _norm_points(df, id_col, x, y, cell_size, grid)
    return _knn_loop(pts, pts, k, cell_size, initial_ring, domain_span, True,
                     grid=grid, persist_registry=persist_registry)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    *,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    cell_size: float = 1.0,
    initial_ring: int = 1,
    domain_span: float = 360.0,
    grid: str = "rect",
    persist_registry: list | None = None,
) -> DataFrame:
    """Bipartite exact kNN: for each left point, its k nearest right points
    → (id, nbr, d2, rank).  Used by IDW interpolation and gravity-style
    candidate generation."""
    lpts = _norm_points(left, id_col, x, y, cell_size, grid)
    rpts = _norm_points(right, id_col, x, y, cell_size, grid)
    return _knn_loop(lpts, rpts, k, cell_size, initial_ring, domain_span, False,
                     grid=grid, persist_registry=persist_registry)


def within_distance(
    df: DataFrame,
    radius: float,
    *,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
    cell_size: float | None = None,
) -> DataFrame:
    """Exact radius self-join (PostGIS ``ST_DWithin`` counterpart) →
    ``(id, nbr, d2, rank)``: every ordered pair with planar distance ≤
    ``radius``, self-pairs excluded, ``rank`` numbering each point's
    neighbors by (d2, nbr) ascending.

    The reference expresses this per-row as an indexed ``ST_DWithin``
    scan (the GiST pattern behind its ``<->``/distance queries,
    pysal_utils.py:132-160); distributed form: bin points into cells of
    ``cell_size`` (default = radius), explode each point to its 3×3
    ring-1 block, equi-join on the cell key, refine with the exact
    ``d2 <= radius²`` predicate.  Any pair within ``radius`` differs by
    at most one cell index per axis when ``cell_size >= radius``, so the
    ring-1 block is a complete candidate set — one shuffle join, never
    an all-pairs product.  Hot (urban) cells are AQE skew-split; the
    rank window partitions by id and is bounded by the neighborhood
    size, never a global sort.
    """
    if radius <= 0:
        raise ValueError(f"within_distance: radius must be > 0, got {radius}")
    size = float(cell_size if cell_size is not None else radius)
    if size < radius:
        raise ValueError(
            f"within_distance: cell_size {size} < radius {radius} breaks "
            "the ring-1 completeness guarantee")
    pts = _norm_points(df, id_col, x, y, size)
    pairs = _candidate_pairs(pts, pts, 1, True).where(
        F.col("d2") <= F.lit(float(radius) * float(radius)))
    w = Window.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nbr").asc())
    return pairs.withColumn("rank", F.row_number().over(w))


def _brute_topk(left: DataFrame, rpts: DataFrame, k: int,
                exclude_self: bool) -> DataFrame:
    """Broadcast cross-join top-k for a (small) straggler set — the final
    fallback when ring expansion would blow past ``max_ring``.  ``left`` is
    by construction the residue of isolated points, so broadcasting it is
    bounded even at cluster scale."""
    lhs = F.broadcast(left.select("id", "x", "y"))
    rhs = rpts.select(
        F.col("id").alias("nbr"), F.col("x").alias("nx"), F.col("y").alias("ny")
    )
    cand = lhs.crossJoin(rhs)
    if exclude_self:
        cand = cand.where(F.col("id") != F.col("nbr"))
    w = Window.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nbr").asc())
    return (
        cand.select(
            "id", "nbr",
            planar_dist2(F.col("x"), F.col("y"), F.col("nx"), F.col("ny")).alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _knn_loop(
    lpts: DataFrame,
    rpts: DataFrame,
    k: int,
    cell_size: float,
    initial_ring: int,
    domain_span: float,
    exclude_self: bool,
    max_ring: int = 8,
    grid: str = "rect",
    persist_registry: list | None = None,
) -> DataFrame:
    rpts.cache()
    if persist_registry is not None:
        persist_registry.append(rpts)

    resolved_parts: list[DataFrame] = []
    unresolved = lpts
    ring = initial_ring
    while True:
        if ring > max_ring or ring * cell_size > domain_span:
            # straggler fallback: exact via broadcast cross-join
            resolved_parts.append(
                _brute_topk(unresolved, rpts, k, exclude_self)
                .select("id", "nbr", "d2", "rank")
            )
            break
        topk = _topk_for(unresolved, rpts, k, ring, cell_size, exclude_self,
                         grid)
        guarantee = _ring_guarantee2(ring, cell_size, grid)
        ok = (F.col("knn_cnt") >= k) & (F.col("knn_maxd2") <= F.lit(guarantee))
        # persist: the convergence check below executes this ring's top-k;
        # without it the final union would re-run the candidate join a
        # second time (MEMORY_AND_DISK — spill-safe at scale).  The caller
        # may still be consuming the returned (lazy) union, so there is no
        # safe unpersist point inside this function; heavy repeat callers
        # (e.g. the GWR bandwidth search) pass ``persist_registry`` and
        # unpersist the collected blocks once the result is materialized.
        done = topk.where(ok).select("id", "nbr", "d2", "rank").persist()
        if persist_registry is not None:
            persist_registry.append(done)
        resolved_parts.append(done)
        # ids not fully resolved this pass — including points with zero
        # candidates in the ring (absent from topk entirely)
        done_ids = done.select("id").distinct()
        pending = unresolved.join(done_ids, "id", "left_anti")
        # driver-side convergence check; pass >= 2 only touches stragglers
        if pending.limit(1).count() == 0:
            break
        unresolved = pending
        ring *= 2

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out
