"""Degenerate inputs: each case gives a well-formed result or an error
that names the operator, never a raw stack trace or a NULL-valued row.

The matrix covers the permutation-sim entry points (``getis_gstar_sim``,
``moran_local_hash_sim``, ``moran_local(permutations=k)``) and the
analytic ``moran_local`` and ``getis_gstar``.  The reference drops
NULL-valued rows (SURVEY §1.1).  Gi* divides by the value sum, so a zero
sum is an error there; Moran centres its values, so it is valid input.
The one documented NULL is the analytic Gi* z (and p) of a row whose
Var[G*_i] is 0.

``dedup_components`` has its own cases (NULL ids and endpoints,
self-pairs, duplicate pairs, empty sides, pair-only ids), each checked
against a union-find over the non-NULL input.
"""

from __future__ import annotations

import numpy as np
import pytest

from crankshaft_spark.operators.dedup import dedup_components
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


COMPONENT_CASES = {
    # name: (docs ids, pairs); None is a NULL
    "null_endpoint": ([1, 2, 3], [(1, 2), (None, 3), (3, None)]),
    "null_doc_id": ([1, 2, 3, None], [(1, 2), (None, 3), (3, None)]),
    "null_pair_only_end": ([1], [(None, 7), (1, 2)]),
    "self_pair": ([1, 2, 3], [(1, 1), (2, 3), (4, 4)]),
    "duplicate_pair": ([1, 2, 3], [(1, 2), (1, 2), (2, 1), (3, 2)]),
    "empty_pairs": ([5, 1, 3], []),
    "empty_docs": ([], [(4, 5), (6, 5)]),
    "empty_both": ([], []),
    "pair_only_id": ([1, 2], [(2, 9), (9, 8)]),
}


def _union_find(ids, pairs):
    """{id: (component, n_members, is_keep)} over the non-NULL graph:
    NULL doc ids and pairs with a NULL end are dropped."""
    edges = [(a, b) for a, b in pairs if a is not None and b is not None]
    nodes = np.array(sorted({i for i in ids if i is not None}
                            | {v for e in edges for v in e}), dtype=np.int64)
    parent = np.arange(nodes.size)
    idx = {int(v): i for i, v in enumerate(nodes)}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        ra, rb = find(idx[a]), find(idx[b])
        parent[max(ra, rb)] = min(ra, rb)   # the root is the min index
    root = np.array([find(i) for i in range(nodes.size)], dtype=np.int64)
    size = np.bincount(root, minlength=nodes.size)
    return {int(v): (int(nodes[r]), int(size[r]), int(v) == int(nodes[r]))
            for v, r in zip(nodes, root)}


@pytest.mark.parametrize("case", list(COMPONENT_CASES))
def test_dedup_components_degenerate(spark, case):
    ids, pairs = COMPONENT_CASES[case]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    prs = spark.createDataFrame(pairs, "a long, b long")
    rows = dedup_components(docs, prs).collect()
    got = {r["doc_id"]: (r["component"], r["n_members"], r["is_keep"])
           for r in rows}
    assert len(rows) == len(got)          # one row per node, no NULL id
    assert None not in got
    assert got == _union_find(ids, pairs)
