"""Degenerate inputs: each case gives a well-formed result or an error
that names the operator, never a raw stack trace or a NULL-valued row.

The matrix covers the permutation-sim entry points (``getis_gstar_sim``,
``moran_local_hash_sim``, ``moran_local(permutations=k)``) and the
analytic ``moran_local`` and ``getis_gstar``.  The reference drops
NULL-valued rows (SURVEY §1.1).  Gi* divides by the value sum, so a zero
sum is an error there; Moran centres its values, so it is valid input.
The one documented NULL is the analytic Gi* z (and p) of a row whose
Var[G*_i] is 0.
"""

from __future__ import annotations

import pytest

from crankshaft_spark.operators.getis import getis_gstar, getis_gstar_sim
from crankshaft_spark.operators.moran import (
    moran_hotspots,
    moran_local,
    moran_local_hash_sim,
)

PERMS = 9

ENTRIES = {
    # name: (call, op named in the no-rows error, zero-variance pattern,
    #        zero-sum pattern or None when a zero sum is valid input)
    "getis_gstar_sim": (
        lambda v, e: getis_gstar_sim(v, e, permutations=PERMS, seed=7),
        "getis_gstar_sim", "getis_gstar_sim: zero variance",
        "getis_gstar_sim: values sum to zero"),
    "moran_local_hash_sim": (
        lambda v, e: moran_local_hash_sim(v, e, permutations=PERMS, seed=7),
        "moran_local_hash_sim", "moran_local(_hash_sim)?: zero variance",
        None),
    "moran_local_permuted": (
        lambda v, e: moran_local(v, e, permutations=PERMS, seed=7),
        "moran_local", "moran_local: zero variance", None),
    "moran_local": (
        lambda v, e: moran_local(v, e),
        None, "moran_local: zero variance", None),
    "getis_gstar": (
        lambda v, e: getis_gstar(v, e),
        None, "getis_gstar: zero variance",
        "getis_gstar: values sum to zero"),
}

RING = [(i, 1 + (i + d - 1) % 6) for i in range(1, 7) for d in (1, 5)]

CASES = {
    # name: ({id: value}, [(id, nbr)])
    "empty": ({}, RING),
    "all_null": ({i: None for i in range(1, 7)}, RING),
    "zero_variance": ({i: 4.0 for i in range(1, 7)}, RING),
    "mixed_null": ({1: 5.0, 2: 9.0, 3: None, 4: 1.0, 5: 8.0, 6: 2.0}, RING),
    # a NULL-valued source with more edges than the 6-value pool has
    # template slots: it must be ignored, not fail the max-degree check
    "null_high_degree_source": (
        {**{i: float((i * 41) % 7) for i in range(1, 7)}, 7: None},
        RING + [(7, j) for j in range(1, 7)]),
    "zero_sum": ({1: -3.0, 2: 1.0, 3: 2.0, 4: -1.0, 5: 4.0, 6: -3.0}, RING),
    # row 6's other values are all equal: its Gi* variance is 0, so the
    # analytic Gi* has no z for that row (the others are well-formed)
    "row_zero_variance": ({**{i: 1.0 for i in range(1, 6)}, 6: 5.0}, RING),
}

#: (entry, case) -> ids whose z_score and p_value are NULL by definition
NULL_Z = {("getis_gstar", "row_zero_variance"): {6}}


def _frames(spark, vals, pairs):
    values = spark.createDataFrame(list(vals.items()),
                                   "id long, value double")
    deg = {}
    for i, _ in pairs:
        deg[i] = deg.get(i, 0) + 1
    edges = spark.createDataFrame([(i, j, 1.0 / deg[i]) for i, j in pairs],
                                  "id long, nbr long, w double")
    return values, edges


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("entry", list(ENTRIES))
def test_degenerate_inputs(spark, entry, case):
    call, op, zero_var, zero_sum = ENTRIES[entry]
    vals, pairs = CASES[case]
    values, edges = _frames(spark, vals, pairs)
    valued = {i for i, v in vals.items() if v is not None}

    if case in ("empty", "all_null"):
        if op is None:  # analytic: an empty, well-formed result
            assert call(values, edges).collect() == []
        else:
            with pytest.raises(
                    ValueError, match=f"^{op}: no rows with a non-null value"):
                call(values, edges).collect()
        return
    named = {"zero_variance": zero_var, "zero_sum": zero_sum}.get(case)
    if named:
        with pytest.raises(Exception, match=named):
            call(values, edges).collect()
        return

    rows = call(values, edges).collect()
    # every valued row has a valued neighbour here; NULL rows are dropped
    assert sorted(r["id"] for r in rows) == sorted(valued)
    null_z = NULL_Z.get((entry, case), set())
    for r in rows:
        d = r.asDict()
        assert d.get("local_i", 0.0) is not None
        if r["id"] in null_z:
            assert d["z_score"] is None and d["p_value"] is None
            continue
        assert d.get("z_score", 0.0) is not None
        if op is not None:
            p = d.get("p_sim", d.get("significance"))
            assert 0.0 < p <= 1.0
    if entry == "moran_local":
        hot = {r["id"] for r in moran_hotspots(call(values, edges))
               .collect()}
        assert hot <= valued
