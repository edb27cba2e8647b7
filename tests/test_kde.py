"""KDE heatmap grid: brute-force parity, support-ring exactness, and
DuckDB oracle parity (fixed-point kernel sums must match bit-for-bit)."""

from __future__ import annotations

import math

import duckdb

from crankshaft_spark.functions.cells import CELL_M
from crankshaft_spark.operators.grid import _kde_ring, kde_grid, kde_oracle_sql


def _brute(rows, *, cell_size, bandwidth, scale=10 ** 9):
    """All-cells brute force: for every cell holding support, sum the
    floor-scaled quartic kernel over ALL points (no ring shortcut)."""
    h2 = bandwidth * bandwidth
    out: dict = {}
    # candidate cells: wide ring around every point (wider than the
    # operator's exact ring on purpose)
    pad = math.ceil(bandwidth / cell_size) + 2
    cells = set()
    for _, x, y in rows:
        ix = math.floor((x + 180.0) / cell_size)
        iy = math.floor((y + 90.0) / cell_size)
        for dx in range(-pad, pad + 1):
            for dy in range(-pad, pad + 1):
                cells.add((ix + dx) * CELL_M + (iy + dy))
    for cell in cells:
        cx = ((cell - (cell % CELL_M)) / CELL_M + 0.5) * cell_size - 180.0
        cy = ((cell % CELL_M) + 0.5) * cell_size - 90.0
        n, s = 0, 0
        for _, x, y in rows:
            d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
            if d2 < h2:
                t = d2 / h2
                n += 1
                s += math.floor((1.0 - t) * (1.0 - t) * float(scale))
        if n:
            out[cell] = (n, s)
    return out


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {r["cell"]: (r["n_pts"], r["kde_fp"])
           for r in kde_grid(df, **kw).collect()}
    assert got == _brute(rows, **kw)
    return got


def test_kernel_values_and_boundary(spark):
    # a point at a cell center contributes exactly floor(1.0*scale) to
    # its own cell (d=0); a second point at distance EXACTLY h from that
    # center contributes nothing there (open ball d^2 < h^2)
    own = 180 * CELL_M + 90          # cell of (0.5, 0.5) at size 1
    got = _run(spark, [(1, 0.5, 0.5)], cell_size=1.0, bandwidth=2.0)
    assert got[own] == (1, 10 ** 9)
    got2 = _run(spark, [(1, 0.5, 0.5), (2, 2.5, 0.5)],
                cell_size=1.0, bandwidth=2.0)
    assert got2[own] == (1, 10 ** 9)


def test_ring_is_exact_not_undershooting(spark):
    # fractional bandwidth/cell ratios stress the ring bound; brute-force
    # comparison in _run proves no contribution is dropped
    rows = [(i, 0.37 * i, 0.21 * i) for i in range(1, 15)]
    for bw in (0.7, 1.0, 1.3, 2.5):
        _run(spark, rows, cell_size=1.0, bandwidth=bw)


def test_domain_edge_negative_ring_cells(spark):
    # points hugging the lon=-180 / lat=-90 corner push ring cells to
    # negative keys; the floor-mod decode must center them correctly
    # (sign-of-dividend % silently dropped their kernel mass — review
    # regression)
    rows = [(1, -179.5, 0.5), (2, -179.5, -89.5), (3, -179.9, -89.9)]
    _run(spark, rows, cell_size=1.0, bandwidth=3.0)


def test_oracle_parity_sf0001(spark):
    from crankshaft_spark.sources.derived import (
        CUSTOMER_POINTS_SQL, customer_points)

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["cell"]: (r["n_pts"], r["kde_fp"])
        for r in kde_grid(customer_points(spark, sf_dir),
                          cell_size=5.0, bandwidth=10.0).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf_dir}/customer.parquet')")
    sql = kde_oracle_sql(f"SELECT x, y FROM ({CUSTOMER_POINTS_SQL})",
                         cell_size=5.0, bandwidth=10.0)
    want = {c: (n, k) for c, n, k in con.execute(sql).fetchall()}
    assert got == want and len(want) > 50


def test_wide_ring_matches_numpy_bruteforce(spark):
    """Ring 20 (bandwidth 5 on 0.25 cells) against a numpy brute force
    over every cell near a point.  The support ring is built per row, not
    as a literal array: a 41x41 literal blew codegen's 64 KB method
    limit and then the driver heap."""
    import numpy as np

    cell_size, bandwidth, scale = 0.25, 5.0, 10 ** 9
    assert _kde_ring(bandwidth, cell_size) == 20
    rng = np.random.default_rng(11)
    xy = np.round(rng.uniform(-3.0, 3.0, size=(40, 2)), 3)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {r["cell"]: (r["n_pts"], r["kde_fp"])
           for r in kde_grid(df, cell_size=cell_size,
                             bandwidth=bandwidth).collect()}

    ix = np.floor((xy[:, 0] + 180.0) / cell_size).astype(np.int64)
    iy = np.floor((xy[:, 1] + 90.0) / cell_size).astype(np.int64)
    # every cell within ring 22 of a point: wider than the ring on purpose
    cx_i = np.arange(ix.min() - 22, ix.max() + 23)
    cy_i = np.arange(iy.min() - 22, iy.max() + 23)
    cells = (cx_i[:, None] * CELL_M + cy_i[None, :]).ravel()
    cx = ((cells - cells % CELL_M) / CELL_M + 0.5) * cell_size - 180.0
    cy = ((cells % CELL_M) + 0.5) * cell_size - 90.0
    dx = xy[None, :, 0] - cx[:, None]
    dy = xy[None, :, 1] - cy[:, None]
    d2 = dx * dx + dy * dy
    h2 = bandwidth * bandwidth
    t = d2 / h2
    w = np.where(d2 < h2, np.floor((1.0 - t) * (1.0 - t) * float(scale)), 0)
    n = (d2 < h2).sum(axis=1)
    want = {int(c): (int(k), int(s))
            for c, k, s in zip(cells, n, w.sum(axis=1).astype(np.int64))
            if k}
    assert got == want and len(want) > 1000
