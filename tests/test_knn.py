"""Exact-kNN join: distributed result must equal the brute-force answer for
every cell size (the cell index is a performance knob, never a correctness
knob), including the straggler/fallback path."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from crankshaft_spark.operators import knn_edges


def brute_force_knn(pts, k):
    out = {}
    for pid, px, py in pts:
        cands = sorted(
            (
                ((px - qx) ** 2 + (py - qy) ** 2, qid)
                for qid, qx, qy in pts
                if qid != pid
            )
        )
        out[pid] = [(qid, d2) for d2, qid in cands[:k]]
    return out


@pytest.fixture(scope="module")
def points(spark):
    # deterministic scattered points incl. a dense cluster and an outlier
    pts = []
    for i in range(120):
        x = ((i * 9973) % 2400) / 10.0 - 120.0
        y = ((i * 7919) % 960) / 10.0 - 48.0
        pts.append((i, x, y))
    # dense cluster (hot cell)
    for i in range(120, 160):
        pts.append((i, 10.0 + (i % 7) * 0.01, 20.0 + (i % 5) * 0.01))
    # remote outlier — forces the ring-expansion fallback
    pts.append((999, 179.0, 89.0))
    return pts


@pytest.mark.parametrize("grid", ["rect", "hex"])
@pytest.mark.parametrize("cell_size", [2.0, 10.0, 45.0])
def test_knn_matches_bruteforce(spark, points, cell_size, grid):
    df = spark.createDataFrame(points, "id long, x double, y double")
    got = (
        knn_edges(df, k=5, cell_size=cell_size, grid=grid)
        .orderBy("id", "rank")
        .collect()
    )
    expected = brute_force_knn(points, 5)
    by_id = {
        pid: [(r["nbr"], r["d2"]) for r in rows]
        for pid, rows in itertools.groupby(got, key=lambda r: r["id"])
    }
    assert set(by_id) == set(expected)
    for pid in expected:
        assert by_id[pid] == expected[pid], \
            f"id {pid} cell_size {cell_size} grid {grid}"


def test_knn_rank_is_dense_and_bounded(spark, points):
    df = spark.createDataFrame(points, "id long, x double, y double")
    edges = knn_edges(df, k=3, cell_size=10.0)
    per_id = edges.groupBy("id").agg(
        F.count("*").alias("c"), F.max("rank").alias("mx")
    )
    bad = per_id.where((F.col("c") != 3) | (F.col("mx") != 3)).count()
    assert bad == 0


def brute_force_dwithin(pts, radius):
    r2 = radius * radius
    out = {}
    for pid, px, py in pts:
        nbrs = sorted(
            ((px - qx) ** 2 + (py - qy) ** 2, qid)
            for qid, qx, qy in pts
            if qid != pid and (px - qx) ** 2 + (py - qy) ** 2 <= r2
        )
        out[pid] = [(qid, d2) for d2, qid in nbrs]
    return out


@pytest.mark.parametrize("cell_size", [None, 12.0])
def test_within_distance_matches_bruteforce(spark, points, cell_size):
    from crankshaft_spark.operators.knn import within_distance

    df = spark.createDataFrame(points, "id long, x double, y double")
    got = (
        within_distance(df, 6.0, cell_size=cell_size)
        .orderBy("id", "rank").collect()
    )
    expected = brute_force_dwithin(points, 6.0)
    by_id = {}
    for r in got:
        by_id.setdefault(r["id"], []).append((r["nbr"], r["d2"]))
        assert r["rank"] == len(by_id[r["id"]])  # dense per-id ranks
    for pid, nbrs in expected.items():
        assert by_id.get(pid, []) == nbrs, f"id {pid}"
    # symmetric: (i,j) present exactly when (j,i) is
    pairs = {(r["id"], r["nbr"]) for r in got}
    assert pairs == {(b, a) for a, b in pairs}


def test_within_distance_guards(spark, points):
    from crankshaft_spark.operators.knn import within_distance

    df = spark.createDataFrame(points, "id long, x double, y double")
    with pytest.raises(ValueError, match="radius"):
        within_distance(df, 0.0)
    with pytest.raises(ValueError, match="ring-1"):
        within_distance(df, 6.0, cell_size=3.0)


def _kernel_points():
    # integer-valued points (exact d²), three groups, coincident pairs
    pts = [(i, float((i * 37) % 60 - 30), float((i * 53) % 40 - 20),
            (i // 10) % 3)
           for i in range(150)]
    pts += [(200 + i, x, y, g) for i, x, y, g in pts[:6]]
    return pts


KERNEL_CASES = {
    # name: (constant radius or None for the per-row radius, cell_size,
    #        extra equi-join key)
    "constant_ring": (6.0, 3.0, ()),       # ring 2
    "capped_ring": (30.0, 1.0, ()),        # ring 30 -> coarsened to the cap
    # per-row radius 5 (ring 5) and 40 (ring 40, above GWR's VAR_RING_CAP:
    # the rows of two tiers in one Column-ring join)
    "column_ring": (None, 1.0, ()),
    "extra_key": (6.0, 3.0, ("g",)),
}


@pytest.mark.parametrize("case", list(KERNEL_CASES))
def test_candidate_kernel_matches_bruteforce(spark, case):
    """The shared cell-join kernel, refined by each caller's predicate,
    finds exactly the brute-force pairs — constant, capped and per-row
    rings, and an extra equi-join key."""
    import numpy as np

    from crankshaft_spark.functions.cells import cell_expr
    from crankshaft_spark.operators.knn import (
        _RING_CAP, _candidate_pairs, _radius_pairs)

    radius, cell_size, on = KERNEL_CASES[case]
    pts = _kernel_points()
    rad = np.array([radius if radius is not None
                    else (40.0 if i % 30 == 0 else 5.0) for i, *_ in pts])
    df = spark.createDataFrame(
        [(*p, float(r)) for p, r in zip(pts, rad)],
        "id long, x double, y double, g long, r double")
    if radius is None:
        keyed = df.withColumn("cell", cell_expr(F.col("x"), F.col("y"),
                                                cell_size))
        ring = F.greatest(F.lit(1), F.ceil(F.col("r") / F.lit(cell_size)))
        pairs = _candidate_pairs(keyed, keyed, ring, True,
                                 left_cols=("id", "r"))
    else:
        if case == "capped_ring":
            assert radius / cell_size > _RING_CAP
        pairs = _radius_pairs(df, df, radius, cell_size, exclude_self=True,
                              on=on)
    got = sorted(
        (r["id"], r["nbr"], r["d2"]) for r in
        pairs.where(F.col("d2") <= F.col("r") * F.col("r")
                    if radius is None else F.col("d2") <= radius * radius)
        .collect())

    ids = np.array([p[0] for p in pts])
    xy = np.array([(p[1], p[2]) for p in pts])
    grp = np.array([p[3] for p in pts])
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    ok = (d2 <= (rad ** 2)[:, None]) & (ids[:, None] != ids[None, :])
    if on:
        ok &= grp[:, None] == grp[None, :]
    want = sorted((int(ids[i]), int(ids[j]), float(d2[i, j]))
                  for i, j in zip(*np.nonzero(ok)))
    assert len(want) > len(pts)
    assert got == want
