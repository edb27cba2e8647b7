"""GWR vs the reference's PySAL-computed knowns (Georgia dataset,
adaptive bisquare bw=90) — the same assertions as
test_regression_gwr.py:76-131 (coeffs + t-vals to 4 decimals, predictions
within 1% relative)."""

from __future__ import annotations

import pytest

from crankshaft_spark.operators.gwr import gwr, gwr_predict, t_ppf

from conftest import load_fixture


@pytest.fixture(scope="module")
def georgia(spark):
    d = load_fixture("gwr_packed_data.json")[0]
    rows = [
        (int(i), float(x), float(y), float(dep), float(a1), float(a2), float(a3))
        for i, x, y, dep, a1, a2, a3 in zip(
            d["rowid"], d["x"], d["y"], d["dep_var"],
            d["attr1"], d["attr2"], d["attr3"],
        )
    ]
    return spark.createDataFrame(
        rows,
        "id long, x double, y double, pctbach double, "
        "pctrural double, pctpov double, pctblack double",
    )


def test_t_ppf_known_values():
    # reference points from standard t tables
    assert abs(t_ppf(0.975, 158) - 1.9751) < 1e-3
    assert abs(t_ppf(0.995, 30) - 2.75) < 2e-3
    assert abs(t_ppf(0.95, 1000) - 1.6464) < 1e-3


def test_gwr_matches_pysal_knowns(spark, georgia):
    knowns = load_fixture("gwr_packed_knowns.json")
    res = gwr(
        georgia, "pctbach", ["pctrural", "pctpov", "pctblack"], bw=90
    ).collect()
    by_id = {r["id"]: r for r in res}
    assert len(by_id) == 159
    ids = knowns["area_key"]
    for i, rid in enumerate(ids):
        r = by_id[rid]
        assert r["coeffs"]["pctpov"] == pytest.approx(
            knowns["est_pctpov"][i], abs=1e-4
        ), rid
        assert r["t_vals"]["pctrural"] == pytest.approx(
            knowns["t_pctrural"][i], abs=1e-4
        ), rid
        assert r["stand_errs"]["pctpov"] == pytest.approx(
            knowns["se_pctpov"][i], abs=1e-4
        ), rid
        assert r["predicted"] == pytest.approx(knowns["yhat"][i], abs=1e-4)
        assert r["r_squared"] == pytest.approx(knowns["localr2"][i], abs=1e-4)


def test_gwr_predict_knowns(spark, georgia):
    from pyspark.sql import functions as F

    unknown_ids = [13083, 13009, 13281, 13115, 13247, 13169]
    predicted_knowns = {13009: 10.879, 13083: 4.5259, 13115: 9.4022,
                       13169: 6.0793, 13247: 8.1608, 13281: 13.886}
    masked = georgia.withColumn(
        "pctbach",
        F.when(F.col("id").isin(unknown_ids), None).otherwise(F.col("pctbach")),
    )
    res = gwr_predict(
        masked, "pctbach", ["pctrural", "pctpov", "pctblack"], bw=90
    ).collect()
    got = {r["id"]: r["predicted"] for r in res}
    assert set(got) == set(unknown_ids)
    for rid, known in predicted_knowns.items():
        assert abs(got[rid] - known) / known < 0.01, (rid, got[rid], known)


def test_gwr_bw_selection_georgia(spark, georgia):
    """Golden-section AICc selection on Georgia: deterministic, inside the
    reference's search interval, and at least as good (by AICc) as the
    interval endpoints."""
    from crankshaft_spark.operators.gwr import _fit_stats, gwr_select_bw
    import math

    bw = gwr_select_bw(georgia, "pctbach", ["pctrural", "pctpov", "pctblack"])
    assert 48 <= bw <= 159  # [40 + 2*n_vars, n]

    def aicc_of(b):
        n, trs, rss = _fit_stats(
            georgia, "pctbach", ["pctrural", "pctpov", "pctblack"], b, 50000.0
        )
        llf = -n / 2.0 * (math.log(rss) + 1.0 + math.log(2.0 * math.pi / n))
        return -2.0 * llf + 2.0 * n * (trs + 1.0) / (n - trs - 2.0)

    assert aicc_of(bw) <= aicc_of(48) + 1e-9
    assert aicc_of(bw) <= aicc_of(159) + 1e-9
    # determinism
    assert gwr_select_bw(
        georgia, "pctbach", ["pctrural", "pctpov", "pctblack"]
    ) == bw


# ---------------------------------------------------------------------------
# fixed / gaussian / exponential kernels vs an independent dense-numpy GWR
# (the formulas of gwr.py's docstring, computed directly on the full n×n
# kernel matrix exactly like the reference's cdist-based _Kernel).

def _dense_gwr_numpy(rows, dep, ind, bw, fixed, kernel):
    import numpy as np

    EPS = 1.0000001
    ids = np.array([r[0] for r in rows])
    xy = np.array([[r[1], r[2]] for r in rows], dtype=float)
    y = np.array([r[3] for r in rows], dtype=float)
    X = np.column_stack(
        [np.ones(len(rows))] + [np.array([r[4 + j] for r in rows], float)
                                for j in range(len(ind))]
    )
    n = len(rows)
    dmat = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1))
    if fixed:
        h = np.full(n, float(bw))
    else:
        h = np.sort(dmat, axis=1)[:, int(bw) - 1] * EPS
    z = dmat / h[:, None]
    if kernel == "bisquare":
        W = (1 - z ** 2) ** 2
        W[dmat >= h[:, None]] = 0.0
    elif kernel == "gaussian":
        W = np.exp(-0.5 * z ** 2)
    else:
        W = np.exp(-z)
    betas = np.zeros((n, X.shape[1]))
    predy = np.zeros(n)
    for i in range(n):
        XW = X * W[i][:, None]
        C = np.linalg.pinv(XW.T @ X) @ XW.T
        betas[i] = C @ y
        predy[i] = X[i] @ betas[i]
    return ids, betas, predy


@pytest.mark.parametrize("fixed,kernel,bw", [
    (True, "bisquare", 150000.0),
    (True, "gaussian", 120000.0),
    (True, "exponential", 120000.0),
    (False, "gaussian", 60),
    (False, "exponential", 60),
])
def test_gwr_kernels_match_dense_numpy(spark, georgia, fixed, kernel, bw):
    ind = ["pctrural", "pctpov", "pctblack"]
    rows = [
        (r["id"], r["x"], r["y"], r["pctbach"],
         r["pctrural"], r["pctpov"], r["pctblack"])
        for r in georgia.collect()
    ]
    ids, betas, predy = _dense_gwr_numpy(rows, "pctbach", ind, bw, fixed, kernel)
    res = gwr(georgia, "pctbach", ind, bw=bw, fixed=fixed, kernel=kernel).collect()
    got = {r["id"]: r for r in res}
    assert set(got) == set(ids.tolist())
    for i, rid in enumerate(ids):
        r = got[rid]
        assert r["coeffs"]["intercept"] == pytest.approx(betas[i][0], abs=1e-6), rid
        assert r["coeffs"]["pctpov"] == pytest.approx(betas[i][2], abs=1e-6), rid
        assert r["predicted"] == pytest.approx(predy[i], abs=1e-6), rid


def test_gwr_unknown_kernel_raises(spark, georgia):
    with pytest.raises(ValueError, match="unknown GWR kernel"):
        gwr(georgia, "pctbach", ["pctpov"], bw=90, kernel="triangular").collect()


def test_gwr_select_bw_keeps_storage_flat(spark, georgia):
    """VERDICT item 7: the bandwidth search must unpersist its ring-join
    blocks between candidate evaluations (no cache accumulation)."""
    from crankshaft_spark.operators.gwr import _fit_stats

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    for bw in (50, 70, 90):
        _fit_stats(georgia, "pctbach", ["pctpov"], bw, 50000.0)
    after = len(jsc.getRDDStorageInfo())
    assert after <= before, (before, after)


def test_gwr_r_squared_stable_under_large_mean_offset(spark, georgia):
    """tss must not cancel catastrophically when |mean(y)| >> std(y):
    shifting the dependent variable by 1e7 leaves localR2 unchanged
    (coeff slopes and residual structure are shift-invariant)."""
    from pyspark.sql import functions as F

    ind = ["pctrural", "pctpov", "pctblack"]
    base = {r["id"]: r["r_squared"]
            for r in gwr(georgia, "pctbach", ind, bw=90).collect()}
    shifted_df = georgia.withColumn("pctbach", F.col("pctbach") + 1.0e7)
    shifted = {r["id"]: r["r_squared"]
               for r in gwr(shifted_df, "pctbach", ind, bw=90).collect()}
    for rid in base:
        assert shifted[rid] == pytest.approx(base[rid], abs=1e-5), rid


@pytest.mark.parametrize("fixed,kernel,bw", [
    # one combo per truncation code path: fixed -> the constant-ring
    # radius join, adaptive -> the tiered per-row-ring join (both on
    # knn._candidate_pairs); the kernel choice only swaps the
    # weight formula and CUTOFF_Z constant, so 2 combos cover the matrix
    # (each GWR fit is ~2 min — keep the suite fast)
    (True, "gaussian", 120000.0),
    (False, "exponential", 60),
])
def test_gwr_truncated_kernels_match_dense(spark, georgia, monkeypatch,
                                           fixed, kernel, bw):
    """Above DENSE_CAP, infinite-support kernels switch to the radius-
    truncated scale path (fixed radius zcut*bw, or per-point zcut*h_i via
    the variable-ring join).  Forcing the cap to 1 exercises that path on
    the Georgia fixture; coefficients must match the exact dense plan to
    ~TRUNC_TOL relative (each dropped edge carries weight < 1e-4)."""
    from crankshaft_spark.operators import gwr as gwrmod

    ind = ["pctrural", "pctpov", "pctblack"]
    dense = {r["id"]: r for r in gwr(
        georgia, "pctbach", ind, bw=bw, fixed=fixed, kernel=kernel
    ).collect()}
    monkeypatch.setattr(gwrmod, "DENSE_CAP", 1)
    trunc = {r["id"]: r for r in gwr(
        georgia, "pctbach", ind, bw=bw, fixed=fixed, kernel=kernel
    ).collect()}
    assert set(dense) == set(trunc)
    for rid, d in dense.items():
        t = trunc[rid]
        for v in ("intercept", *ind):
            scale = max(1.0, abs(d["coeffs"][v]))
            assert abs(t["coeffs"][v] - d["coeffs"][v]) / scale < 5e-4, (
                rid, v)
        assert t["predicted"] == pytest.approx(d["predicted"],
                                               rel=5e-4, abs=1e-6)
