"""Gravity / Huff model against an all-pairs brute force: every
(source, target) pair with 0 < dist <= radius, its distance-decay share
h = 100·(w/d)/Σ(w/d) and hpop = pop·h/100, on a grid whose ring stays
small and on one fine enough to be coarsened to the ring cap."""

from __future__ import annotations

import math

import pytest

from crankshaft_spark.operators.gravity import gravity_huff
from crankshaft_spark.operators.knn import _RING_CAP

RADIUS = 30.0

SOURCES = [(i, float((i * 37) % 160), float((i * 53) % 90),
            float(1 + i % 7)) for i in range(60)]
TARGETS = [(100 + j, float((j * 71) % 160), float((j * 29) % 90),
            float(2 + j % 5)) for j in range(25)]
# a target on a source (dist 0: no pair) and one exactly at the radius
TARGETS += [(200, SOURCES[1][1], SOURCES[1][2], 3.0),
            (201, SOURCES[2][1] + 18.0, SOURCES[2][2] + 24.0, 4.0)]


def _brute():
    pairs = {}
    for sid, sx, sy, pop in SOURCES:
        rows = [(tid, math.sqrt((sx - tx) ** 2 + (sy - ty) ** 2), w)
                for tid, tx, ty, w in TARGETS]
        rows = [(tid, d, w) for tid, d, w in rows if 0 < d <= RADIUS]
        den = sum(w / d for _, d, w in rows)
        for tid, d, w in rows:
            h = 100.0 * (w / d) / den
            pairs[(sid, tid)] = (d, h, pop * h / 100.0)
    return pairs


@pytest.fixture(scope="module")
def frames(spark):
    src = spark.createDataFrame(SOURCES, "id long, x double, y double, "
                                         "pop double")
    tgt = spark.createDataFrame(TARGETS, "id long, x double, y double, "
                                         "weight double")
    return src, tgt


@pytest.mark.parametrize("cell_size", [10.0, 1.0])
def test_gravity_matches_bruteforce(spark, frames, cell_size):
    if cell_size == 1.0:
        assert RADIUS / cell_size > _RING_CAP  # coarsened to the cap
    src, tgt = frames
    got = {(r["source_id"], r["target_id"]): r for r in gravity_huff(
        src, tgt, radius=RADIUS, cell_size=cell_size).collect()}
    want = _brute()
    assert set(got) == set(want)
    assert (1, 200) not in got and (2, 201) in got
    hsum = {}
    for key, (d, h, hpop) in want.items():
        r = got[key]
        assert r["dist"] == pytest.approx(d, abs=1e-9)
        assert r["h"] == pytest.approx(h, abs=1e-9)
        assert r["hpop"] == pytest.approx(hpop, abs=1e-9)
        hsum[key[0]] = hsum.get(key[0], 0.0) + r["h"]
    for total in hsum.values():
        assert total == pytest.approx(100.0, abs=1e-9)


def test_gravity_guards(spark, frames):
    src, tgt = frames
    with pytest.raises(ValueError, match="gravity_huff: radius must be > 0"):
        gravity_huff(src, tgt, radius=0)
    with pytest.raises(ValueError,
                       match="gravity_huff: cell_size must be > 0"):
        gravity_huff(src, tgt, radius=RADIUS, cell_size=0.0)
