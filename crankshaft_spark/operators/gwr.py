"""Geographically Weighted Regression — fit and predict.

Reference: CDB_GWR / CDB_GWR_Predict
(/root/reference/src/pg/sql/21_gwr.sql → gwr_cs.py:19-202), backed by the
vendored PySAL GWR fork (regression/gwr/base/gwr.py, kernels.py,
glm/iwls.py ~7.9k LoC).  Semantics re-derived and matched to its fixtures
(gwr_packed_knowns.json, Georgia dataset, adaptive bisquare bw=90):

  * adaptive bandwidth: h_i = eps · (distance to the bw-th nearest
    neighbor INCLUDING self), eps = 1.0000001 (kernels.py:49-96); fixed
    bandwidth: h = bw, a distance (kernels.py:13-33)
  * kernels (kernels.py:99-121): bisquare (1 − (d/h)²)² truncated to 0 at
    d ≥ h; gwr_gaussian exp(−(d/h)²/2) and exponential exp(−d/h), both
    non-truncated (dense support, like the reference's cdist matrix)
  * local WLS (Gaussian IWLS collapses to one weighted solve):
    C_i = (XᵀWᵢX)⁻¹XᵀWᵢ;  β_i = C_i y  (glm/iwls.py:24-37)
  * hat row S_ij = w_ij · x_iᵀ(XᵀWᵢX)⁻¹x_j;  CCT_i = diag(C_iC_iᵀ)
    (note W enters twice — PySAL's convention, gwr.py:228-233)
  * σ² = RSS/(n − 2·tr(S) + tr(SᵀS))   (sigma2_v1v2, the default;
    gwr.py:616-628);  bse = sqrt(CCT·σ²);  t = β/bse
  * filtered t: 0 unless |t| ≥ t_ppf(1 − α′/2, n−1) with
    α′ = 0.05·k/pe, pe = 2·tr(S) − tr(SᵀS)  (gwr.py:716-756)
  * localR2 = (TSS_i − RSS_i)/TSS_i with geographically weighted
    TSS/RSS over the FULL residual vector (gwr.py:518-566)

Spark-first decomposition (the reference collects everything into one
backend): the n×n kernel matrix never materializes — the kNN join (k = bw)
IS its sparse support.  Per-point solves reduce to moment matrices
computed as pure JVM ``groupBy`` sums over the edge frame, then ONE
vectorized mapInPandas batch-inverts all k×k systems (see _fit_groups);
tr(S), tr(SᵀS), RSS reduce to plain aggregations / edge joins.  Shuffle
cost: one kNN join of n·bw edges + two small shuffles — scales linearly
in rows at fixed bw, with Python overhead independent of the group count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.functions.cells import cell_expr
from crankshaft_spark.operators.knn import (
    _candidate_pairs, _radius_pairs, knn_join)

EPS = 1.0000001


def _norm_ppf(p: float) -> float:
    """Acklam's rational approximation to the standard normal quantile
    (|err| < 1.15e-9) — replaces scipy.stats.norm.ppf."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = np.sqrt(-2 * np.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
               ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        return -_norm_ppf(1 - p)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / \
           (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)


def t_ppf(p: float, df: float) -> float:
    """Student-t quantile via the Cornish-Fisher expansion around the
    normal quantile (Hill 1970) — accurate to ~1e-6 for df ≥ 30, replacing
    scipy.stats.t.ppf for the filtered-t critical value."""
    z = _norm_ppf(p)
    g1 = (z ** 3 + z) / 4.0
    g2 = (5 * z ** 5 + 16 * z ** 3 + 3 * z) / 96.0
    g3 = (3 * z ** 7 + 19 * z ** 5 + 17 * z ** 3 - 15 * z) / 384.0
    g4 = (79 * z ** 9 + 776 * z ** 7 + 1482 * z ** 5 - 1920 * z ** 3 - 945 * z) / 92160.0
    return z + g1 / df + g2 / df ** 2 + g3 / df ** 3 + g4 / df ** 4


#: kernel -> (weight expr of z = d/h, truncated-at-h?).  Matches the
#: reference's _kernel_funcs (kernels.py:99-121): bisquare truncates at
#: d >= h (kernels.py:79-81, truncate=True default); gwr_gaussian and
#: exponential are built with truncate=False — dense support over ALL
#: data points, exactly as the cdist-based reference computes them.
KERNELS = {
    "bisquare": (lambda z: F.pow(1.0 - F.pow(z, 2.0), 2.0), True),
    "gaussian": (lambda z: F.exp(-0.5 * F.pow(z, 2.0)), False),
    "exponential": (lambda z: F.exp(-z), False),
}

#: dense (non-truncated) kernels build an all-pairs support set, like the
#: reference's n×n cdist matrix; below this cap we keep the exact dense
#: join for reference parity.  ABOVE the cap the support is radius-
#: truncated at the TRUNC_TOL weight contour instead (see CUTOFF_Z) — the
#: scale path.  The reference itself defaults to bisquare (21_gwr.sql:8),
#: whose compact support needs no truncation.
DENSE_CAP = 20000

#: truncation tolerance for non-truncated kernels at scale: edges whose
#: kernel weight would be below TRUNC_TOL (relative to the self weight 1)
#: are dropped.  Each dropped neighbor perturbs every weighted moment by
#: < TRUNC_TOL of one observation's contribution, so coefficients match
#: the dense computation to ~1e-4 relative (asserted in tests/test_gwr.py).
TRUNC_TOL = 1e-4

#: z = d/h cutoff where each kernel's weight falls to TRUNC_TOL:
#: gaussian exp(-z²/2) = tol at z = √(−2·ln tol) ≈ 4.29;
#: exponential exp(−z) = tol at z = −ln tol ≈ 9.21  (kernels.py:99-121).
import math as _math

CUTOFF_Z = {
    "gaussian": _math.sqrt(-2.0 * _math.log(TRUNC_TOL)),
    "exponential": -_math.log(TRUNC_TOL),
}


def _kernel_w(kernel: str, d, h):
    try:
        fn, truncated = KERNELS[kernel]
    except KeyError:
        raise ValueError(
            f"unknown GWR kernel {kernel!r}: expected one of {sorted(KERNELS)}"
        ) from None
    w = fn(d / h)
    if truncated:
        w = F.when(d < h, w).otherwise(0.0)
    return w


def _dense_edges(cal: DataFrame, data: DataFrame) -> DataFrame:
    """All-pairs (id, nbr, d) — the distributed form of the reference's
    cdist matrix for non-truncated kernels (used below DENSE_CAP only)."""
    lhs = cal.select("id", "x", "y")
    rhs = data.select(
        F.col("id").alias("nbr"), F.col("x").alias("nx"), F.col("y").alias("ny")
    )
    return lhs.crossJoin(F.broadcast(rhs)).select(
        "id", "nbr",
        F.sqrt(
            (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
            + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny"))
        ).alias("d"),
    )


#: per-row ring cap for the variable-radius join — above it a row moves to
#: a coarser (doubled) grid tier.  A per-row Column ring builds no literal
#: offset array, so this cap sits above knn._RING_CAP.
VAR_RING_CAP = 32


def _weighted_edges(cal: DataFrame, data: DataFrame, bw: float,
                    cell_size: float, *, fixed: bool = False,
                    kernel: str = "bisquare",
                    persist_registry: list | None = None) -> DataFrame:
    """(id, nbr, d, w) — kernel-weighted support edges from calibration
    points to data points.

    adaptive (fixed=False): h_i = eps·(distance to the bw-th nearest data
    point INCLUDING self), per kernels.py:83-96 (adapt_* pass k=nn-1, then
    _Kernel uses k+1 sorted columns of the self-inclusive dmat).
    fixed=True: h = bw, a distance in coordinate units (kernels.py:13-33).

    Support: truncated kernels (bisquare) keep only d < h edges — the kNN /
    radius join IS the sparse kernel matrix; non-truncated kernels
    (gaussian, exponential) take all pairs, matching the reference exactly.
    """
    _, truncated = KERNELS[kernel] if kernel in KERNELS else (None, None)
    if truncated is None:
        raise ValueError(
            f"unknown GWR kernel {kernel!r}: expected one of {sorted(KERNELS)}"
        )
    dense_ok = None
    if not truncated:
        dense_ok = data.limit(DENSE_CAP + 1).count() <= DENSE_CAP
    if fixed:
        h = F.lit(float(bw))
        if dense_ok:
            edges = _dense_edges(cal, data)
        else:
            # compact support (d < h), or the scale path: the infinite-
            # support kernel truncated at the TRUNC_TOL weight contour
            radius = (float(bw) if truncated
                      else CUTOFF_Z[kernel] * float(bw))
            edges = (
                _radius_pairs(cal, data, radius, cell_size)
                .select("id", "nbr", F.sqrt("d2").alias("d"))
                .where(F.col("d") < radius))
        return edges.withColumn("w", _kernel_w(kernel, F.col("d"), h)).select(
            "id", "nbr", "d", "w"
        )
    bw = int(bw)
    if truncated:
        # domain_span must scale with the projection's cell size: the default
        # lon/lat span (360) made ring*cell_size trip the brute-force fallback
        # on the FIRST ring for meter-scale cells, silently broadcasting the
        # whole calibration set (O(n^2)); max_ring still bounds the expansion
        edges = knn_join(
            cal, data, k=bw, cell_size=cell_size,
            domain_span=float("inf"), persist_registry=persist_registry,
        ).withColumn("d", F.sqrt("d2"))
        h = edges.groupBy("id").agg((F.max("d") * EPS).alias("_h"))
    elif dense_ok:
        from pyspark.sql.window import Window

        edges = _dense_edges(cal, data)
        rk = Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("nbr").asc())
        h = (
            edges.withColumn("_rk", F.row_number().over(rk))
            .where(F.col("_rk") <= bw)
            .groupBy("id")
            .agg((F.max("d") * EPS).alias("_h"))
        )
    else:
        # adaptive non-truncated at scale: exact h_i from the bounded kNN
        # join, then a PER-POINT radius join truncated at the TRUNC_TOL
        # weight contour (d < reach_i = zcut·h_i).  Each point explodes
        # only the ring its own reach needs (ceil(reach_i/size) cells), so
        # the fanout tracks local density.  A row whose fine-grid ring
        # would pass VAR_RING_CAP moves to grid tier
        # t = ceil(log2(ring/CAP)) (cell size·2^t), so no row explodes
        # more than (2·CAP+1)² cells — an outlier whose h_i spans the
        # domain gets a coarse grid.  One kernel join per OCCUPIED tier.
        knn = knn_join(
            cal, data, k=bw, cell_size=cell_size,
            domain_span=float("inf"), persist_registry=persist_registry,
        )
        h = knn.groupBy("id").agg((F.max(F.sqrt("d2")) * EPS).alias("_h"))
        reach = F.lit(CUTOFF_Z[kernel]) * F.col("_h")

        def ring(size):
            return F.greatest(F.lit(1), F.ceil(reach / F.lit(size)))

        cal_t = cal.join(h, "id").withColumn("_tier", F.greatest(
            F.lit(0),
            F.ceil(F.log2(ring(cell_size).cast("double")
                          / F.lit(float(VAR_RING_CAP))))).cast("int"))
        edges = None
        for tv in sorted(r[0] for r in
                         cal_t.select("_tier").distinct().collect()):
            size = cell_size * (2 ** tv)
            key = cell_expr(F.col("x"), F.col("y"), size)
            part = (
                _candidate_pairs(
                    cal_t.where(F.col("_tier") == tv).withColumn("cell", key),
                    data.withColumn("cell", key), ring(size).cast("long"),
                    left_cols=("id", "_h"))
                .select("id", "nbr", "_h", F.sqrt("d2").alias("d"))
                .where(F.col("d") < reach)
                .select("id", "nbr", "d"))
            edges = part if edges is None else edges.unionByName(part)
    return (
        edges.join(h, "id")
        .withColumn("w", _kernel_w(kernel, F.col("d"), F.col("_h")))
        .select("id", "nbr", "d", "w")
    )


def _feat_struct(df: DataFrame, ind_vars: list[str], dep_var: str | None,
                 prefix: str) -> DataFrame:
    cols = [F.lit(1.0).cast("double"), *[F.col(v).cast("double") for v in ind_vars]]
    out = [F.col("id").alias(f"{prefix}id"), F.array(*cols).alias(f"{prefix}x")]
    if dep_var is not None:
        out.append(F.col(dep_var).cast("double").alias(f"{prefix}y"))
    return df.select(*out)


def _fit_groups(grouped: DataFrame, kdim: int, want_hat: bool,
                y_center: float = 0.0):
    """Local WLS per calibration point — sufficient-statistics plan.

    Input rows: (id, w, xj array[kdim], yj, is_self, xi array[kdim]).
    Output: (id, beta, cct, predy, resid, s_ii, ssq, ybar, tss).

    The per-point solve needs only moment matrices, so stage 1 is a pure
    JVM ``groupBy(id)`` of k(k+1) + k + 3 weighted sums (map-side
    combinable — no Arrow round-trip per neighborhood):

        M  = Σ_j w_j  x_j x_jᵀ       M2 = Σ_j w_j² x_j x_jᵀ
        v  = Σ_j w_j  x_j y_j        wsum, wy, wyy, (w_i, y_i, x_i)

    Stage 2 is ONE vectorized mapInPandas over the n aggregated rows
    (batched k×k inverts), using the identities

        β = M⁻¹ v                    cct_a = (M⁻¹ M2 M⁻¹)_aa
        s_ii = w_i · x_iᵀ M⁻¹ x_i    ssq = Σ_j S_ij² = x_iᵀ M⁻¹ M2 M⁻¹ x_i
        tss = Σw(y−ȳ)² via moments of y′ = y − y_center (a global
        shift supplied by the caller): tss = wyy′ − wy′²/wsum — the shift
        removes the catastrophic cancellation a raw wyy − ȳ²wsum form
        would hit when |mean(y)| ≫ std(y)

    which reproduce the reference's per-row hat/CCT math (gwr.py:228-233,
    616-628) exactly up to fp rearrangement — far inside the 1e-4 fixture
    tolerances.  Replaces a one-group-per-point applyInPandas whose Python
    call overhead dominated at n ≥ 10⁴ and whose group count grew with
    the table; this plan's pandas stage is O(n) rows, Arrow-batched.
    """
    schema = (
        "id long, beta array<double>, cct array<double>, predy double, "
        "resid double, s_ii double, ssq double, ybar double, tss double"
    )
    w, xj, yj = F.col("w"), F.col("xj"), F.col("yj")
    aggs = []
    for a in range(kdim):
        for b in range(a, kdim):
            aggs.append(F.sum(w * xj[a] * xj[b]).alias(f"m_{a}_{b}"))
            aggs.append(F.sum(w * w * xj[a] * xj[b]).alias(f"m2_{a}_{b}"))
        aggs.append(F.sum(w * xj[a] * yj).alias(f"v_{a}"))
    yc = yj - F.lit(float(y_center))
    aggs += [
        F.sum(w).alias("wsum"),
        F.sum(w * yc).alias("wy"),
        F.sum(w * yc * yc).alias("wyy"),
        F.max(F.when(F.col("is_self"), yj)).alias("yi"),
        F.max(F.when(F.col("is_self"), w)).alias("wi"),
        F.first("xi").alias("xi"),   # constant within the group
    ]
    stats = grouped.groupBy("id").agg(*aggs)

    def solve(pdfs):
        for pdf in pdfs:
            n = len(pdf)
            if n == 0:
                continue
            M = np.zeros((n, kdim, kdim))
            M2 = np.zeros((n, kdim, kdim))
            v = np.zeros((n, kdim))
            for a in range(kdim):
                for b in range(a, kdim):
                    M[:, a, b] = M[:, b, a] = pdf[f"m_{a}_{b}"].to_numpy()
                    M2[:, a, b] = M2[:, b, a] = pdf[f"m2_{a}_{b}"].to_numpy()
                v[:, a] = pdf[f"v_{a}"].to_numpy()
            try:
                inv = np.linalg.inv(M)
            except np.linalg.LinAlgError:
                # isolate the singular neighborhoods: pinv ONLY those rows,
                # so healthy points keep inv results regardless of which
                # Arrow batch a rank-deficient point lands in
                inv = np.empty_like(M)
                for bi in range(n):
                    try:
                        inv[bi] = np.linalg.inv(M[bi])
                    except np.linalg.LinAlgError:
                        inv[bi] = np.linalg.pinv(M[bi])
            beta = np.einsum("nab,nb->na", inv, v)
            xi = np.stack(pdf["xi"].to_numpy())
            yi = pdf["yi"].to_numpy(dtype=float)          # NaN when no self
            wi = pdf["wi"].to_numpy(dtype=float)
            predy = np.einsum("na,na->n", xi, beta)
            inv_xi = np.einsum("nab,nb->na", inv, xi)
            s_ii = np.where(
                np.isnan(wi), 0.0,
                np.nan_to_num(wi) * np.einsum("na,na->n", xi, inv_xi),
            )
            ssq = np.einsum("na,nab,nb->n", inv_xi, M2, inv_xi)
            cct = np.einsum("nab,nbc,nac->na", inv, M2, inv)
            wsum = pdf["wsum"].to_numpy(dtype=float)
            wy = pdf["wy"].to_numpy(dtype=float)
            wyy = pdf["wyy"].to_numpy(dtype=float)
            ybar = y_center + wy / wsum
            tss = wyy - (wy * wy) / wsum
            yield pd.DataFrame({
                "id": pdf["id"],
                "beta": list(map(list, beta)),
                "cct": list(map(list, cct)),
                "predy": predy,
                "resid": yi - predy,
                "s_ii": s_ii,
                "ssq": ssq,
                "ybar": ybar,
                "tss": tss,
            })

    # pin parallelism: the moment table is n rows of small arrays (tiny
    # bytes), so AQE would coalesce the batched-solve stage onto one core;
    # the solve is per-row-local, so repartitioning cannot change results
    from crankshaft_spark.functions.spread import spread_groups

    return spread_groups(stats, "id").mapInPandas(solve, schema=schema)


def _dep_mean(data: DataFrame, dep_var: str) -> float:
    """Global mean of the dependent variable — the tss-stabilizing shift
    passed to _fit_groups (one tiny aggregate)."""
    m = data.agg(F.avg(dep_var)).collect()[0][0]
    return float(m) if m is not None else 0.0


def _maps(arr_col: str, names: list[str]):
    return F.map_from_arrays(
        F.array(*[F.lit(nm) for nm in names]),
        F.col(arr_col),
    )


def gwr(
    points: DataFrame,
    dep_var: str,
    ind_vars: list[str],
    *,
    bw: float | None,
    fixed: bool = False,
    kernel: str = "bisquare",
    cell_size: float = 50000.0,
) -> DataFrame:
    """CDB_GWR → (id, coeffs, stand_errs, t_vals, filtered_t_vals,
    predicted, residuals, r_squared, bandwidth) with map<var,double>
    columns for the per-variable outputs (incl. 'intercept').

    ``fixed``/``kernel`` follow CDB_GWR's signature (21_gwr.sql:6-9):
    fixed=False → ``bw`` is an adaptive neighbor count; fixed=True → ``bw``
    is a distance in coordinate units.  kernel ∈ {bisquare, gaussian,
    exponential} per kernels.py:13-121.  ``bw=None`` selects the bandwidth
    by golden-section AICc search (gwr_select_bw), the reference's default
    (gwr_cs.py:70-73).
    """
    if bw is None:
        bw = gwr_select_bw(points, dep_var, ind_vars, fixed=fixed,
                           kernel=kernel, cell_size=cell_size)
    names = ["intercept", *ind_vars]
    kdim = len(names)
    data = points.na.drop(subset=[dep_var, *ind_vars])
    edges = _weighted_edges(data, data, bw, cell_size, fixed=fixed,
                            kernel=kernel).cache()

    feat = _feat_struct(data, ind_vars, dep_var, "")
    grouped = (
        edges.join(
            feat.select(F.col("id").alias("nbr"), F.col("x").alias("xj"),
                        F.col("y").alias("yj")),
            "nbr",
        )
        .withColumn("is_self", F.col("id") == F.col("nbr"))
        .join(feat.select("id", F.col("x").alias("xi")), "id")
        .select("id", "w", "xj", "yj", "is_self", "xi")
    )
    local = _fit_groups(grouped, kdim, want_hat=True,
                        y_center=_dep_mean(data, dep_var)).cache()

    n_row = local.agg(
        F.count("*").alias("n"),
        F.sum("s_ii").alias("trs"),
        F.sum("ssq").alias("trsts"),
        F.sum(F.col("resid") * F.col("resid")).alias("rss_tot"),
    ).collect()[0]
    n, trs, trsts = n_row["n"], n_row["trs"], n_row["trsts"]
    sigma2 = n_row["rss_tot"] / (n - 2.0 * trs + trsts)
    pe = 2.0 * trs - trsts
    alpha_c = 0.05 * kdim / pe
    critical = t_ppf(1.0 - abs(alpha_c) / 2.0, n - 1)

    # geographically weighted RSS per i over the full residual vector
    rss = (
        edges.join(
            local.select(F.col("id").alias("nbr"), F.col("resid").alias("_rj")),
            "nbr",
        )
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("_rj") * F.col("_rj")).alias("_rss"))
    )

    out = (
        local.join(rss, "id")
        .withColumn(
            "bse",
            F.transform("cct", lambda c: F.sqrt(c * F.lit(sigma2))),
        )
        .withColumn(
            "tval",
            F.zip_with("beta", "bse", lambda b, s: b / s),
        )
        .withColumn(
            "tfil",
            F.transform(
                "tval",
                lambda t: F.when(
                    (t < F.lit(critical)) & (t > F.lit(-critical)), 0.0
                ).otherwise(t),
            ),
        )
    )
    return out.select(
        "id",
        _maps("beta", names).alias("coeffs"),
        _maps("bse", names).alias("stand_errs"),
        _maps("tval", names).alias("t_vals"),
        _maps("tfil", names).alias("filtered_t_vals"),
        F.col("predy").alias("predicted"),
        F.col("resid").alias("residuals"),
        ((F.col("tss") - F.col("_rss")) / F.col("tss")).alias("r_squared"),
        F.lit(float(bw)).alias("bandwidth"),
    )


def gwr_predict(
    points: DataFrame,
    dep_var: str,
    ind_vars: list[str],
    *,
    bw: float,
    fixed: bool = False,
    kernel: str = "bisquare",
    cell_size: float = 50000.0,
) -> DataFrame:
    """CDB_GWR_Predict → (id, coeffs, stand_errs, t_vals, r_squared,
    predicted) for rows whose ``dep_var`` is NULL, calibrated on the
    non-null rows (gwr_cs.py:105-202: scale σ² and residuals come from the
    training fit; W rows are the unknowns' bw-NN among training points)."""
    names = ["intercept", *ind_vars]
    train = points.na.drop(subset=[dep_var, *ind_vars])
    unknown = points.where(F.col(dep_var).isNull()).na.drop(subset=ind_vars)

    # training fit supplies exog scale + residuals
    # (reference: exog_scale = train_gwr.scale, gwr.py:263-268)
    edges_t = _weighted_edges(train, train, bw, cell_size, fixed=fixed,
                              kernel=kernel)
    feat_t = _feat_struct(train, ind_vars, dep_var, "")
    grouped_t = (
        edges_t.join(
            feat_t.select(F.col("id").alias("nbr"), F.col("x").alias("xj"),
                          F.col("y").alias("yj")), "nbr",
        )
        .withColumn("is_self", F.col("id") == F.col("nbr"))
        .join(feat_t.select("id", F.col("x").alias("xi")), "id")
        .select("id", "w", "xj", "yj", "is_self", "xi")
    )
    y0 = _dep_mean(train, dep_var)
    loc_t = _fit_groups(grouped_t, len(names), want_hat=True,
                        y_center=y0).cache()
    sr = loc_t.agg(
        F.count("*").alias("n"), F.sum("s_ii").alias("trs"),
        F.sum("ssq").alias("trsts"),
        F.sum(F.col("resid") * F.col("resid")).alias("rss_tot"),
    ).collect()[0]
    sigma2 = sr["rss_tot"] / (sr["n"] - 2.0 * sr["trs"] + sr["trsts"])

    # unknowns: bw-NN among TRAINING points (no self)
    edges_u = _weighted_edges(unknown, train, bw, cell_size, fixed=fixed,
                              kernel=kernel)
    grouped_u = (
        edges_u.join(
            feat_t.select(F.col("id").alias("nbr"), F.col("x").alias("xj"),
                          F.col("y").alias("yj")), "nbr",
        )
        .withColumn("is_self", F.lit(False))
        .join(_feat_struct(unknown, ind_vars, None, "").select(
            "id", F.col("x").alias("xi")), "id")
        .select("id", "w", "xj", "yj", "is_self", "xi")
    )
    loc_u = _fit_groups(grouped_u, len(names), want_hat=False,
                        y_center=y0)

    rss_u = (
        edges_u.join(
            loc_t.select(F.col("id").alias("nbr"), F.col("resid").alias("_rj")),
            "nbr",
        )
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("_rj") * F.col("_rj")).alias("_rss"))
    )

    # Reference-parity quirk: the vendored PySAL predict sets
    # predy[i] = (X_train @ β_i)[i] — the fitted value at the i-th TRAINING
    # row (by input order) under the i-th TEST point's kernel, NOT
    # P_i @ β_i (gwr.py:209-235 ``predy[i] = rslt[1][i]``; verified against
    # gwr_packed_knowns.json).  Input order = id order here.  The windows
    # below are over the bounded predict/train sets only.
    from pyspark.sql.window import Window

    n_train = train.count()
    n_unknown = unknown.count()
    if n_unknown > n_train:
        raise ValueError(
            f"gwr_predict: {n_unknown} prediction rows > {n_train} training "
            "rows — the reference's positional predy indexing is undefined "
            "here (it would index past the training matrix)"
        )
    uo = unknown.select("id").withColumn(
        "_o", F.row_number().over(Window.orderBy("id"))
    )
    to = train.select("id").withColumn(
        "_o", F.row_number().over(Window.orderBy("id"))
    )
    xo = feat_t.select("id", F.col("x").alias("_xo")).join(to, "id").select(
        "_o", "_xo"
    )
    pred_pos = uo.join(xo, "_o").select("id", "_xo")
    # TSS for unknowns uses training y against the unknown's ybar — both
    # already computed per group in loc_u (ybar, tss over training ys)
    out = (
        loc_u.join(rss_u, "id")
        .join(pred_pos, "id")
        .withColumn("bse", F.transform("cct", lambda c: F.sqrt(c * F.lit(sigma2))))
        .withColumn("tval", F.zip_with("beta", "bse", lambda b, s: b / s))
        .withColumn(
            "_pred",
            F.aggregate(
                F.zip_with("beta", "_xo", lambda b, v: b * v),
                F.lit(0.0), lambda acc, t: acc + t,
            ),
        )
    )
    return out.select(
        "id",
        _maps("beta", names).alias("coeffs"),
        _maps("bse", names).alias("stand_errs"),
        _maps("tval", names).alias("t_vals"),
        ((F.col("tss") - F.col("_rss")) / F.col("tss")).alias("r_squared"),
        F.col("_pred").alias("predicted"),
    )


def _fit_stats(data: DataFrame, dep_var: str, ind_vars: list[str],
               bw: float, cell_size: float, *, fixed: bool = False,
               kernel: str = "bisquare") -> tuple[int, float, float]:
    """(n, tr(S), RSS) for one candidate bandwidth — one distributed pass.

    Blocks persisted by the inner kNN ring loop are unpersisted before
    returning: the bandwidth search calls this O(log) times and must not
    accumulate cached ring blocks across candidates (storage stays flat)."""
    names = ["intercept", *ind_vars]
    registry: list = []
    edges = _weighted_edges(data, data, bw, cell_size, fixed=fixed,
                            kernel=kernel, persist_registry=registry)
    feat = _feat_struct(data, ind_vars, dep_var, "")
    grouped = (
        edges.join(
            feat.select(F.col("id").alias("nbr"), F.col("x").alias("xj"),
                        F.col("y").alias("yj")), "nbr",
        )
        .withColumn("is_self", F.col("id") == F.col("nbr"))
        .join(feat.select("id", F.col("x").alias("xi")), "id")
        .select("id", "w", "xj", "yj", "is_self", "xi")
    )
    row = _fit_groups(grouped, len(names), want_hat=True,
                      y_center=_dep_mean(data, dep_var)).agg(
        F.count("*").alias("n"),
        F.sum("s_ii").alias("trs"),
        F.sum(F.col("resid") * F.col("resid")).alias("rss"),
    ).collect()[0]
    for df in registry:
        df.unpersist()
    return int(row["n"]), float(row["trs"]), float(row["rss"])


def _point_set_diameter(data: DataFrame) -> float:
    """Exact max pairwise distance: per-Arrow-batch convex hulls collected
    to the driver (bounded — union of subset hulls ⊇ hull of the union),
    final hull + O(h²) max pair in numpy."""
    from crankshaft_spark.functions.geom import convex_hull

    def part_hull(pdf_iter):
        for pdf in pdf_iter:
            pts = pdf[["x", "y"]].to_numpy(dtype=float)
            h = convex_hull(pts) if len(pts) >= 3 else pts
            yield pd.DataFrame({"x": h[:, 0], "y": h[:, 1]})

    rows = data.select(
        F.col("x").cast("double"), F.col("y").cast("double")
    ).mapInPandas(part_hull, "x double, y double").collect()
    pts = np.array([[r["x"], r["y"]] for r in rows])
    if len(pts) < 2:
        return 0.0
    h = convex_hull(pts) if len(pts) >= 3 else pts
    d2 = ((h[:, None, :] - h[None, :, :]) ** 2).sum(-1)
    return float(np.sqrt(d2.max()))


def gwr_select_bw(
    points: DataFrame,
    dep_var: str,
    ind_vars: list[str],
    *,
    fixed: bool = False,
    kernel: str = "bisquare",
    cell_size: float = 50000.0,
    tol: float = 1.0e-6,
    max_iter: int = 200,
) -> float:
    """Bandwidth selection by golden-section search over AICc — the
    reference's ``bw=None`` path (Sel_BW.search, sel_bw.py:113-222;
    golden_section, search.py:7-79; AICc per diagnostics.py:9-24 with the
    Gaussian OLS log-likelihood  llf = −n/2·(ln RSS + 1 + ln(2π/n))  and
    k = tr(S)).  delta = 0.38197.

    Search interval (sel_bw.py:255-285 _init_section): adaptive →
    [40 + 2·n_vars, n] with integer rounding; fixed → continuous distances
    [min_i d_i,nn / 2, diameter / 2] with nn = 40 + 2·n_vars (d_i,nn =
    distance to the nn-th neighbor including self).

    Each candidate evaluation is one distributed GWR pass; evaluations are
    memoized, so the driver loop issues ~O(log) distinct Spark jobs, and
    each pass unpersists its ring-join blocks (storage stays flat).
    """
    import math

    data = points.na.drop(subset=[dep_var, *ind_vars]).cache()
    n_rows = data.count()
    n_vars = len(ind_vars) + 1
    int_score = not fixed

    cache: dict[float, float] = {}

    def aicc(bw_f: float) -> float:
        if int_score:
            bw = float(max(n_vars + 2, min(int(round(bw_f)), n_rows)))
        else:
            bw = float(bw_f)
        if bw not in cache:
            n, trs, rss = _fit_stats(data, dep_var, ind_vars, bw, cell_size,
                                     fixed=fixed, kernel=kernel)
            llf = -n / 2.0 * (math.log(rss) + 1.0 + math.log(2.0 * math.pi / n))
            cache[bw] = -2.0 * llf + 2.0 * n * (trs + 1.0) / (n - trs - 2.0)
        return cache[bw]

    delta = 0.38197
    if int_score:
        a, c = float(40 + 2 * n_vars), float(n_rows)
    else:
        nn = min(40 + 2 * n_vars, n_rows)
        pts_xy = data.select("id", "x", "y")
        registry: list = []
        nn_edges = knn_join(pts_xy, pts_xy, k=nn, cell_size=cell_size,
                            domain_span=float("inf"),
                            persist_registry=registry)
        a = float(
            nn_edges.groupBy("id").agg(F.max("d2").alias("m"))
            .agg(F.min(F.sqrt("m"))).collect()[0][0]
        ) / 2.0
        for df in registry:
            df.unpersist()
        c = _point_set_diameter(data) / 2.0
    b = a + delta * abs(c - a)
    d = c - delta * abs(c - a)
    opt_val, diff, iters = b, 1.0e9, 0
    while abs(diff) > tol and iters < max_iter:
        iters += 1
        if int_score:
            b, d = round(b), round(d)
        score_b, score_d = aicc(b), aicc(d)
        if score_b <= score_d:
            opt_val = b
            c = d
            d = b
            b = a + delta * abs(c - a)
        else:
            opt_val = d
            a = b
            b = d
            d = c - delta * abs(c - a)
        diff = score_b - score_d
        if int_score and round(b) == round(d):
            break
    return int(round(opt_val)) if int_score else float(opt_val)
