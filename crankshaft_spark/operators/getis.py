"""Getis-Ord Gi* hotspot statistic.

Reference entry point: CDB_GetisOrdsG (/root/reference/src/pg/sql/16_getis.sql)
→ ``ps.esda.getisord.G_Local(star=True, permutations=999)``
(src/py/crankshaft/crankshaft/clustering/getis.py:22-50).

Semantics re-derived from PySAL 1.14.3 and verified to 1e-15 against the
reference fixture (neighbors_getis.json → getis.json):

  * star weights = binary adjacency with a self-loop, row-standardized:
    each of the (deg_i + 1) members of the closed neighborhood weighs
    1/(deg_i + 1)
  * Gs_i = (Σ_{j∈N(i)} y_j + y_i) / ((deg_i + 1) · Σy)
  * fixture-parity permutation path (``getis_gstar_pysal_sim``) replicates
    PySAL's conditional randomization *including its RNG stream* and its
    pooled z_sim quirk: EG_sim/seG_sim are scalars over ALL rows ×
    permutations (``sim.mean()`` with no axis), so
    z_sim = (Gs − pooled_mean)/pooled_std.  PySAL's sequential global RNG
    is inherently serial, so this path collects the bounded fixture table —
    use it ONLY for fixture parity.
  * distributed permutation path (``getis_gstar_sim``) — the scale path for
    simulated inference: same conditional-randomization semantics (SRSWOR
    of deg_i others, folded p_sim, pooled z_sim) but samples are drawn by a
    keyed affine walk of a hash-shuffled bounded value pool (no RNG
    stream, no per-row sort), so the plan is a broadcast pool + one
    Arrow-batched mapInPandas stage, results are parallelism-independent,
    and the whole construction is expressible in the DuckDB oracle
    (``getis_sim_oracle_sql``).
  * analytic path (``getis_gstar``) gives the closed-form moments of the
    same conditional randomization (sampling deg_i values without
    replacement from the other n−1), fully distributed and SQL-expressible —
    this is the 10^12-scale path, mirroring how the reference defaults
    Markov to permutations=0.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gs(values: DataFrame, edges: DataFrame, value_col: str) -> DataFrame:
    """(id, deg, gs) with gs = (Σ_nbr y + y_i)/((deg+1)·Σy) over the
    valued rows (the reference drops NULL-valued rows)."""
    values = values.where(F.col(value_col).isNotNull())
    # deg + neighbor sum in ONE aggregation over the joined edge table
    nbr_stats = (
        edges.select("id", "nbr")
        .join(
            values.select(F.col("id").alias("nbr"), F.col(value_col).alias("_y")),
            "nbr",
        )
        .groupBy("id")
        .agg(F.count("*").alias("deg"), F.sum("_y").alias("_nbrsum"))
    )
    tot = values.agg(
        _ysum_checked(F.col(value_col), "getis_gstar", nonzero=True)
        .alias("_ysum"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("_y2sum"),
        F.count(value_col).alias("_n"),
    )
    return (
        values.select("id", F.col(value_col).alias("_y"))
        .join(nbr_stats, "id")
        .join(F.broadcast(tot))
        .withColumn(
            "gs",
            (F.col("_nbrsum") + F.col("_y"))
            / ((F.col("deg") + 1) * F.col("_ysum")),
        )
    )


def _ysum_checked(y, op: str, *, nonzero: bool):
    """Σy, raising ``<op>: zero variance`` when all values are equal and,
    with ``nonzero`` (Gi* divides by Σy; Moran centres its values, so a
    zero sum is valid there), ``<op>: values sum to zero``."""
    ysum = F.sum(y)
    if nonzero:
        ysum = F.when(ysum == 0, F.raise_error(F.lit(
            f"{op}: values sum to zero"))).otherwise(ysum)
    return F.when(F.min(y) == F.max(y), F.raise_error(F.lit(
        f"{op}: zero variance (all values equal)"))).otherwise(ysum)


def getis_gstar(
    values: DataFrame,
    edges: DataFrame,
    *,
    value_col: str = "value",
) -> DataFrame:
    """Analytic Gi* → (id, gs, z_score, p_value).

    z is the closed-form conditional-randomization z: the simulated
    G*_i = (S + y_i)/((deg+1)·Σy) with S a deg_i-sized SRSWOR sample of the
    other values, so
        E[G*_i]  = (deg·m_i + y_i) / ((deg+1)·Σy)
        Var[G*_i] = deg·σ²_i·(n−1−deg)/(n−2) / ((deg+1)·Σy)²
    with m_i, σ²_i the mean/population-variance of the other n−1 values —
    pure aggregates + join algebra, no Python, no collect.
    p_value is the two-sided normal tail (erfc-based, JVM-side).
    NULL-valued rows are dropped; zero variance and a zero value sum
    raise errors naming the operator.  A row whose Var[G*_i] is 0 — its
    other n−1 values all equal, or deg = n−1 so every draw is the same
    set — has a NULL z_score and p_value.
    """
    g = _gs(values, edges, value_col)
    m_i = (F.col("_ysum") - F.col("_y")) / (F.col("_n") - 1)
    var_i = (F.col("_y2sum") - F.col("_y") * F.col("_y")) / (F.col("_n") - 1) - m_i * m_i
    denom = (F.col("deg") + 1) * F.col("_ysum")
    eg = (F.col("deg") * m_i + F.col("_y")) / denom
    vnum = F.col("deg") * var_i * (F.col("_n") - 1 - F.col("deg"))
    vg = (vnum / (F.col("_n") - 2)) / (denom * denom)
    # Var[G*_i] = 0 (the other values all equal, or deg = n−1): no z
    out = g.withColumn(
        "z_score", F.when(vnum > 0, (F.col("gs") - eg) / F.sqrt(vg))
    ).withColumn("p_value", normal_tail(F.abs(F.col("z_score"))))
    return out.select("id", "gs", "z_score", "p_value")


def normal_tail(z_abs):
    """One-sided upper normal tail 1−Φ(z) for z ≥ 0, as pure column math.

    Abramowitz & Stegun 26.2.17 rational approximation (|ε| < 7.5e-8) —
    keeps p-values inside whole-stage codegen instead of a Python UDF.
    """
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * z_abs)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t
            * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    pdf = F.exp(F.lit(-0.5) * z_abs * z_abs) / F.lit(2.5066282746310002)
    return pdf * poly


_HASH_P = 2147483647  # 2^31 - 1: a*g + b stays < 2^62 (exact BIGINT/int64)


def _h32(s: str) -> int:
    """Portable 32-bit hash: first 8 hex digits of md5 — identical to
    DuckDB ('0x' || substring(md5(s), 1, 8))::BIGINT (CLAUDE.md recipe)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _h32_col(tag_key: str, seed: int):
    """JVM codegen twin of ``_h32(f"{tag_key}:{seed}:{id}")`` over the id
    column — per-row hashes stay in whole-stage codegen instead of Python
    hashlib inside the Arrow stage."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(tag_key), F.lit(str(seed)),
                              F.col("id").cast("string"))), 1, 8),
        16, 10).cast("long")


SIM_POOL_DEFAULT = 65536
"""Default bounded size of the broadcast value pool the permutation-sim
paths draw from.  Caps BOTH driver/broadcast state (O(pool) values +
O(perms·maxdeg) deg-truncated slot templates, never O(n)) and per-row
compute (O(permutations·deg) — a closed-form affine rank→position map
per row, see ``_crand_rank_sums``).  When n ≤ pool the null is the
exact conditional randomization; when n > pool the draws come from a
hash-uniform subsample of the other values — statistically equivalent for
inference (the empirical distribution of a 64k uniform subsample is the
population distribution to ~1/256 resolution, far finer than the
1/(permutations+1) resolution of p_sim itself)."""


def _hash_pool(values: DataFrame, value_col: str, tag: str,
               pool_size, cast: str = "double"):
    """Collect a bounded, hash-selected value pool → (ids, values) in
    hash-shuffled POSITION order.  Pool = the ``pool_size`` rows with the
    smallest portable md5 rank of ``f"{tag}:{id}"`` (tie-broken by id) — a
    deterministic uniform subsample both engines replay verbatim (DuckDB:
    ``ORDER BY ('0x'||substring(md5(tag||':'||id),1,8))::BIGINT, id LIMIT
    pool``).  The plan is TakeOrderedAndProject (distributed top-k): no
    global sort, no O(n) collect.  ``pool_size=None`` collects everything —
    exact conditional randomization, bounded inputs only.

    Position order (the list index) is a SECOND independent keyed hash,
    ``f"{tag}-pos:{id}"`` (tie id): the affine rank→position draw in
    ``_crand_rank_sums`` walks pool positions in closed form, so the
    position→value assignment must itself be hash-generic — id order would
    alias id-correlated values (value = f(id) synthetics, time-ordered
    ids) into the affine position sets."""
    df = values.select("id", F.col(value_col).cast(cast).alias("_y"))
    if pool_size is not None:
        pu = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(tag),
                                  F.col("id").cast("string"))), 1, 8),
            16, 10).cast("long")
        df = (df.withColumn("_pu", pu)
              .orderBy("_pu", "id").limit(int(pool_size)).drop("_pu"))
    rows = df.collect()
    rows.sort(key=lambda r: (_h32(f"{tag}-pos:{r[0]}"), int(r[0])))
    return [int(r[0]) for r in rows], [r[1] for r in rows]


def _pool_cte(values_sql: str, tag: str, pool_size) -> str:
    """DuckDB mirror of ``_hash_pool``'s selection over ``values_sql``
    (must yield (id, y)); returns a SELECT producing the pool rows."""
    if pool_size is None:
        return values_sql
    return f"""
      SELECT id, y FROM (
        SELECT id, y,
               ('0x' || substring(md5('{tag}:' || id), 1, 8))::BIGINT AS _pu
        FROM ({values_sql}))
      ORDER BY _pu, id LIMIT {int(pool_size)}"""


def _pool_pos_cte(pool_sql: str, tag: str) -> str:
    """DuckDB mirror of ``_hash_pool``'s position order: 0-based pool
    position of each pool row under the ``f"{tag}-pos:{id}"`` keyed hash
    (tie id).  ``pool_sql`` must yield (id, y)."""
    return f"""
      SELECT id, y,
             row_number() OVER (
               ORDER BY ('0x' || substring(md5('{tag}-pos:' || id),
                         1, 8))::BIGINT ASC, id ASC) - 1 AS pos
      FROM ({pool_sql})"""


def _sim_slots(tag: str, seed: int, permutations: int, m: int):
    """Shared per-permutation draw templates — the PySAL ``__crand`` shape
    (one rank-slot template per permutation, shared by every row), made
    portable: for permutation p, τ_p = the slots q ∈ [1, m−1] ordered by
    the keyed linear hash (c_p·G_q + e_p) mod P, tie-broken by q, with
    G_q = h32(f"{tag}-G:{q}"), c_p/e_p keyed by (seed, p).  Row i's
    deg-d draw is the pool positions π_i(τ_p[0..d−1]) under the row's
    keyed affine bijection (see ``_crand_rank_sums``) — a true d-subset
    (bijections preserve distinctness), and bijections preserve slot-set
    overlaps, so the across-permutation correlation structure is exactly
    the template overlap.  Returns an int64 (permutations × m−1) matrix of
    1-based rank slots; driver cost O(perm·pool·log pool) numpy.  Callers
    broadcast only the ``[:, :maxdeg]`` prefix (draws never read past a
    row's degree), so the shipped payload is O(perm·maxdeg)."""
    q = np.arange(1, m, dtype=np.int64)
    G = np.array([_h32(f"{tag}-G:{i}") % _HASH_P for i in q],
                 dtype=np.int64)
    c = np.array([1 + _h32(f"{tag}-c:{seed}:{p}") % (_HASH_P - 1)
                  for p in range(permutations)], dtype=np.int64)
    e = np.array([_h32(f"{tag}-e:{seed}:{p}") % _HASH_P
                  for p in range(permutations)], dtype=np.int64)
    key = (c[:, None] * G[None, :] + e[:, None]) % _HASH_P
    key *= np.int64(m)
    key += q[None, :]  # tie-break by slot (oracle: ORDER BY hash, q)
    return q[np.argsort(key, axis=1)]


_A_TRIES = 64
"""Coprime-rejection window for the affine multiplier: the first k in
[0, 64) with gcd(1 + (a0-1+k) mod (m-1), m) = 1 is taken.  64 consecutive
candidates always contain a unit mod m for every m < 2^31: the maximal gap
between units mod m is Jacobsthal's function g(m), and g(m) <= 46 for every
m with <= 10 distinct prime factors (m < 2^31 has <= 9); for m-1 < 64 the
wrapped window covers all of 1..m-1, which contains 1."""


def _crand_rank_sums(ha, hb, degs, excl, yv, slots, wts=None,
                     max_elems=1 << 24):
    """Conditional-randomization draw sums for a whole Arrow batch →
    (n_rows × permutations) matrix of Σ yv over each drawn subset, or of
    Σ_k wts[i, k]·yv[draw_k] when per-row weights ``wts`` (n_rows × ≥ deg,
    the k-th weight applied to the k-th drawn rank slot) are given.

    Row i's pool ordering is a keyed AFFINE bijection of pool positions:
    rank r holds position π_i(r) = (c_i + a_i·r) mod m, where a_i is the
    first unit mod m in a 64-candidate window keyed by ha_i (``_A_TRIES``)
    and c_i = the row's own pool position when it is in the pool, else
    hb_i mod m.  Rank 0 is the self position (in-pool rows) — template
    slots span 1..m−1, so self is never drawn and every draw is a true
    deg-subset (x → a·x is bijective for gcd(a, m) = 1).  Permutation p
    draws positions π_i(slots[p, :deg]) — per-row cost O(perms·deg) with
    NO ranking matrix and NO argsort (the previous sort-based π built an
    O(pool) key matrix + argsort per row: ~24 µs/row and memory-bandwidth
    bound, which capped N→4N core scaling at ~0.45 — this form is ~1 µs/row
    and gather-bound).

    Statistical shape vs the sort-based kernel: the ACROSS-permutation
    structure is identical (|π(S_p) ∩ π(S_q)| = |S_p ∩ S_q| under ANY
    bijection, so overlap correlation is exactly the shared-template
    overlap, the PySAL ``__crand`` shape), and marginal genericity of the
    drawn VALUE sets comes from the pool's own hash-shuffled position
    order (``_hash_pool`` ``-pos`` key): positions hold exchangeable
    hash-assigned values, so affine position sets are distributionally
    uniform value draws.  The ACROSS-ROW ordering family is coarser,
    though: the affine map has at most m·φ(m) distinct (a, c) pairs
    (~2^31 at the 64k default pool) where the sort-based keyed-hash
    ranking had ~2^62 — so once n ≫ √(m·φ(m)), birthday-colliding row
    pairs (expected ≈ n²/(2·m·φ(m))) share a FULL ordering and hence
    identical null draws: their p_sims are perfectly correlated (each
    row's marginal null law is unchanged — a collision duplicates a
    valid draw, it doesn't bias it, and pooled z_sim moments just
    average duplicated draws).  At the 64k default that is ~23k
    colliding pairs per 10M rows (5e-10 of all pairs) — negligible;
    tiny pools (the 512-value gate/simscale settings) accept a real
    coarsening in exchange for test-scale oracle replay.  PySAL's own
    crand re-shuffles ids per row (full per-row entropy) but shares the
    rank templates across all rows — our templates mirror that; only
    the per-row ordering family is narrower, and only below ~√(m·φ(m))
    rows of headroom.

    ``ha``/``hb`` are the portable 32-bit hashes
    h32(f"{tag}-A:{seed}:{id}") / h32(f"{tag}-B:{seed}:{id}") — computed
    JVM-side by the operators (codegen md5), keeping Python free of
    per-row hashing.

    Rows are processed in chunks bounded by ``max_elems`` int64 elements
    (default 16.7M ≈ 134 MB per working buffer) covering both the
    (chunk × 64) coprime-candidate buffer and the (chunk × perms × deg)
    template gather."""
    ha = np.asarray(ha, dtype=np.int64)
    hb = np.asarray(hb, dtype=np.int64)
    n_rows, m = len(ha), len(yv)
    perms = slots.shape[0]
    out = np.zeros((n_rows, perms),
                   dtype=yv.dtype if wts is None else float)
    if n_rows == 0 or perms == 0 or m < 2:
        return out  # m < 2 ⇒ every deg ≤ m−1 = 0 (callers enforce)
    degs = np.asarray(degs, dtype=np.int64)
    excl = np.asarray(excl, dtype=np.int64)
    if wts is not None:
        wts = np.asarray(wts, dtype=float)
    maxd = int(degs.max()) if n_rows else 0
    c = np.where(excl >= 0, excl, hb % m)
    chunk = max(1, max_elems // max(_A_TRIES, perms * max(maxd, 1)))
    for s0 in range(0, n_rows, chunk):
        rr = slice(s0, min(s0 + chunk, n_rows))
        a0 = 1 + ha[rr] % (m - 1)
        cand = 1 + (a0[:, None] - 1 + np.arange(_A_TRIES)) % (m - 1)
        ok = np.gcd(cand, m) == 1
        first = ok.argmax(axis=1)
        if not ok[np.arange(len(a0)), first].all():
            raise AssertionError(
                f"no unit mod {m} in {_A_TRIES} candidates")  # unreachable
        a = cand[np.arange(len(a0)), first]
        cc = c[rr]
        cd = degs[rr]
        for d in np.unique(cd):
            rows = np.flatnonzero(cd == d)
            d = int(d)
            if d == 0:
                continue  # empty subset: sum stays 0
            # drawn pool positions: (c + a·slot) mod m over the first d
            # template slots — a (rows × perms × d) gather, no O(pool)
            # per-row state
            idx = (cc[rows, None, None]
                   + a[rows, None, None] * slots[None, :, :d]) % m
            drawn = yv[idx]
            if wts is not None:
                drawn = drawn * wts[s0 + rows, None, :d]
            out[s0 + rows] = drawn.sum(axis=2)
    return out


def _crand_sim(values, edges, value_col, *, op, tag, seed, permutations,
               pool_size, stat, schema, cast="double", weights=False,
               rows=None, persist=True, persist_registry=None,
               nonzero_sum=False):
    """The Spark side of a keyed-affine crand sim — ONE copy for every sim
    operator → the lazy per-row ``stat`` frame of ``schema``.

    Input contract: NULL values are dropped (a None in the broadcast pool
    would turn every draw sum to NaN), and edge sources without a value
    are ignored, by the max-degree check too.  ``nbr_stats`` holds, per
    source, ``_deg`` and ``_nbrsum`` over its valued neighbours and, with
    ``weights``, ``_ws`` — its edge weights in nbr order (sample values
    are exchangeable, so any fixed order is a valid and parallelism-stable
    pairing).  It feeds TWO actions — the max-degree aggregate and the sim
    stage — so it is persisted unless ``persist=False``, handles appended
    to ``persist_registry`` (else the edge join + groupBy, the biggest
    shuffle, runs twice).  Both actions read it joined to the valued rows,
    which adds each row's own value ``_y`` (cast to ``cast``, the pool's
    type); the sim stage also gets the draw hashes ``_ha``/``_hb``
    (``_h32_col``, tags ``{tag}-A``/``{tag}-B``).

    Driver state is O(pool + perms·maxdeg): the ``{tag}-pool`` hash pool
    (``_hash_pool``; an empty pool is the named no-rows error, raised from
    the collect the sim needs anyway) and the ``_sim_slots`` templates
    truncated at the max degree — draws never read past a row's degree,
    so the prefix is value-invariant and the broadcast is ≈99×5 at kNN
    defaults, not 99×64k.  Requires deg ≤ pool−1 (the template's slot
    count).

    The Python stage runs under ``spread_groups`` (tiny bytes, heavy
    per-row numpy: unpinned, AQE coalesces it onto one task) and yields
    ``stat(pdf, sums)`` per Arrow batch: ``sums`` is the batch's
    (rows × permutations) ``_crand_rank_sums`` matrix, ``pdf`` carries
    the columns above, the columns of ``rows`` (joined on id) and the
    global ``_n``/``_ysum`` — a broadcast aggregate, joined after the
    repartition so it adds no shuffle bytes, that also raises the named
    zero-variance error and, with ``nonzero_sum``, the zero-sum one (no
    extra action)."""
    from crankshaft_spark.functions.spread import spread_groups

    values = values.where(F.col(value_col).isNotNull())
    y = values.select("id", F.col(value_col).cast(cast).alias("_y"))
    aggs = [F.count("*").alias("_deg"), F.sum("_y").alias("_nbrsum")]
    if weights:
        aggs.append(F.transform(
            F.sort_array(F.collect_list(F.struct("nbr", "w"))),
            lambda st: st["w"]).alias("_ws"))
    nbr_stats = (
        edges.select("id", "nbr", *(["w"] if weights else []))
        .join(y.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy("id").agg(*aggs)
    )
    if persist:
        nbr_stats = nbr_stats.persist()
        if persist_registry is not None:
            persist_registry.append(nbr_stats)
    sim_in = y.join(nbr_stats, "id")  # valued sources only
    ids, yl = _hash_pool(values, value_col, f"{tag}-pool", pool_size, cast)
    m = len(ids)  # pool size (== n when pool_size is None or n <= pool)
    if not m:
        raise ValueError(f"{op}: no rows with a non-null value")
    maxd = int(sim_in.agg(F.max("_deg")).first()[0] or 0)
    if maxd > m - 1:
        raise ValueError(
            f"{op}: max deg {maxd} exceeds the {m - 1} pool template "
            f"slots — raise pool_size (got {m})")
    sc = values.sparkSession.sparkContext
    by = sc.broadcast(np.array(yl, dtype=np.int64 if cast == "long"
                               else float))
    bpos = sc.broadcast({v: i for i, v in enumerate(ids)})
    bslots = sc.broadcast(_sim_slots(tag, seed, permutations, m)[:, :maxd])

    def run(pdfs):
        yv, pos, slots = by.value, bpos.value, bslots.value
        for pdf in pdfs:
            if not len(pdf):
                continue
            degs = pdf["_deg"].to_numpy(dtype=np.int64)
            k = int(degs.argmax())
            if degs[k] > slots.shape[1]:  # input changed since the maxd job
                raise ValueError(
                    f"{op}: deg({pdf['id'].iat[k]})={degs[k]} exceeds the "
                    f"{slots.shape[1]} template slots shipped")
            wts = None
            if weights:
                wts = np.zeros((len(pdf), slots.shape[1]))
                for i, ws in enumerate(pdf["_ws"]):
                    wts[i, :len(ws)] = ws
            excl = [pos.get(int(r), -1) for r in pdf["id"]]  # may be off-pool
            yield stat(pdf, _crand_rank_sums(pdf["_ha"], pdf["_hb"], degs,
                                             excl, yv, slots, wts=wts))

    tot = y.agg(
        F.count("*").alias("_n"),
        _ysum_checked(F.col("_y"), op, nonzero=nonzero_sum).alias("_ysum"),
    )
    sim_in = sim_in.select("*", _h32_col(f"{tag}-A", seed).alias("_ha"),
                           _h32_col(f"{tag}-B", seed).alias("_hb"))
    if rows is not None:
        sim_in = sim_in.join(rows, "id")
    return (spread_groups(sim_in, "id").join(F.broadcast(tot))
            .mapInPandas(run, schema))


def getis_gstar_sim(
    values: DataFrame,
    edges: DataFrame,
    *,
    value_col: str = "value",
    permutations: int = 99,
    seed: int = 1234,
    pool_size: int | None = SIM_POOL_DEFAULT,
    persist: bool = True,
    persist_registry: list | None = None,
) -> DataFrame:
    """Distributed conditional-randomization Gi* → (id, gs, z_sim, p_sim).

    The per-row permutation table is persisted by default (it feeds both
    the pooled moments and the final join — without the cache the
    O(n·permutations) mapInPandas stage executes twice per action), as is
    the neighbour table both sim actions read (``_crand_sim``).  The
    pinned tables are bounded (n rows × ≤ 9 columns) but live until the
    session clears them: repeated calls in one session should collect the
    handles via ``persist_registry`` and unpersist them, clear with
    ``spark.catalog.clearCache()``, or pass ``persist=False`` (the
    contour_cells convention).

    Distributed permutation inference (replaces the driver-serial PySAL
    replica) in the PySAL ``__crand`` shape (one ordering per row + shared
    per-permutation rank templates), made hash-portable and sort-free:
    row i's pool ordering π_i is a keyed affine bijection of the
    hash-shuffled pool positions (rank r ↦ (c_i + a_i·r) mod m, a_i a
    keyed unit mod m, c_i the self position / keyed offset — see
    ``_crand_rank_sums``); permutation p draws the positions at π_i-ranks
    τ_p[0..deg−1] where τ_p is a shared keyed ordering of the rank slots
    1..m−1 (``_sim_slots``).  The construction is pure integer
    arithmetic, so results are bit-identical at any parallelism AND
    expressible verbatim in the DuckDB oracle (no numpy RNG stream).
    Statistics mirror PySAL G_Local: two-sided folded p_sim,
    pooled-moment z_sim (EG/seG over all rows × permutations).  Per-row
    work is vectorized numpy over an Arrow batch (``_crand_sim``, tag
    ``gsim``); everything after is column algebra.

    Cost bound: the candidate pool is capped at ``pool_size`` (default
    ``SIM_POOL_DEFAULT``) by a hash-ranked uniform subsample (see
    ``_hash_pool``), so driver/broadcast state is O(pool + perms·maxdeg
    template) — never O(n) — and per-row work is O(permutations·deg)
    (closed-form rank→position map: no per-row ranking or sort at all).
    Requires deg ≤ pool−1 (the template's slot count).  When n ≤ pool the
    null is the exact conditional randomization; ``pool_size=None``
    forces that exact path regardless of n (bounded inputs only).  At
    crawl scale prefer the analytic ``getis_gstar`` (pure column algebra)
    — p_sim resolution is bounded by 1/(permutations+1), not n — but with
    a small pool (1024) this path runs at 10M+ rows (scalebench sim row).
    Empty / all-NULL input, zero variance and a zero value sum raise
    errors naming the operator.

    The s ≥ nbrsum comparison is pinned at 6dp on both sides: nbrsum is a
    Spark float sum whose partial-aggregation order varies with
    parallelism (CLAUDE.md float-pin rule).  Exact no-op for the
    integer-valued y the oracle contract requires.
    """
    import pandas as pd

    def stat(pdf, s):
        nbrsum = pdf["_nbrsum"].to_numpy(dtype=float)
        # threshold keeps the scalar loop's Python round() (banker's
        # correctly-rounded decimal), sims keep np.round — the exact
        # pair the oracle parity was validated against
        thr = np.array([round(float(v), 6) for v in nbrsum])
        sv = s + pdf["_y"].to_numpy(dtype=float)[:, None]
        return pd.DataFrame({
            "id": pdf["id"], "_y": pdf["_y"], "_deg": pdf["_deg"],
            "_nbrsum": nbrsum, "_n": pdf["_n"], "_ysum": pdf["_ysum"],
            "_larger": (np.round(s, 6) >= thr[:, None]).sum(axis=1),
            "_ssum": sv.sum(axis=1), "_s2sum": (sv * sv).sum(axis=1)})

    per = _crand_sim(
        values, edges, value_col, op="getis_gstar_sim", tag="gsim",
        seed=seed, permutations=permutations, pool_size=pool_size,
        stat=stat, persist=persist, persist_registry=persist_registry,
        nonzero_sum=True,
        schema=("id long, _y double, _deg long, _nbrsum double, _n long, "
                "_ysum double, _larger long, _ssum double, _s2sum double"))
    # per feeds BOTH the pooled moments and the final join
    if persist:
        per = per.persist()
        if persist_registry is not None:
            persist_registry.append(per)
    denom = (F.col("_deg") + 1) * F.col("_ysum")
    pool = (
        per.agg(
            F.sum(F.col("_ssum") / denom).alias("_egs"),
            F.sum(F.col("_s2sum") / (denom * denom)).alias("_e2s"),
            (F.max("_n") * permutations).alias("_np"),
        )
        .select(
            (F.col("_egs") / F.col("_np")).alias("_eg"),
            (F.col("_e2s") / F.col("_np")).alias("_e2"),
        )
    )
    gs = (F.col("_nbrsum") + F.col("_y")) / denom
    folded = F.least(F.col("_larger"), F.lit(permutations) - F.col("_larger"))
    return (
        per.join(F.broadcast(pool))
        .select(
            "id",
            gs.alias("gs"),
            ((gs - F.col("_eg"))
             / F.sqrt(F.col("_e2") - F.col("_eg") * F.col("_eg"))
             ).alias("z_sim"),
            ((folded + 1.0) / (permutations + 1)).alias("p_sim"),
        )
    )


def crand_draw_ctes(tag: str, *, seed: int, permutations: int,
                    pool_size: int | None,
                    ids_sql: str = "SELECT id FROM yv") -> str:
    """Shared DuckDB CTE block replaying the keyed affine crand draw —
    ``_hash_pool`` (bounded pool + hash-shuffled positions),
    ``_sim_slots`` (shared per-permutation rank templates) and
    ``_crand_rank_sums`` (per-row affine rank→position bijection,
    ``_A_TRIES`` coprime window) — so every sim oracle interpolates ONE
    definition of the draw (a tuned ``_A_TRIES`` or ``-pos`` hash scheme
    changes every oracle together, or none).

    Callers must define ``yv(id, y)`` and ``deg(id, d, nbrsum)`` CTEs
    BEFORE splicing this block (no leading/trailing comma); it
    contributes ``vpool/vp/mq/hh/pa/cc/tg/tab/tau/sims``, where
    ``sims(id, p, s)`` is row id's drawn value sum under permutation p.
    ``ids_sql`` narrows the rows that draw (moran skips z = 0 rows);
    hash preimages are ``{tag}-pool`` / ``{tag}-pool-pos`` (pool) and
    ``{tag}-A/B/G/c/e`` (draw), matching the Spark operators' tags."""
    P = _HASH_P
    pool_sql = _pool_cte("SELECT id, y FROM yv", f"{tag}-pool", pool_size)
    pos_sql = _pool_pos_cte("SELECT id, y FROM vpool", f"{tag}-pool")
    return f"""vpool AS ({pool_sql}),
    vp AS ({pos_sql}),
    mq AS (SELECT count(*) AS m FROM vpool),
    hh AS (
      SELECT id,
             ('0x' || substring(md5(concat_ws(':', '{tag}-A', {seed},
                     id)), 1, 8))::BIGINT AS ha,
             ('0x' || substring(md5(concat_ws(':', '{tag}-B', {seed},
                     id)), 1, 8))::BIGINT AS hb
      FROM ({ids_sql})
    ),
    pa AS (
      SELECT id, arg_min(cand, k) AS a FROM (
        SELECT h.id, t.k,
               1 + (h.ha % (q.m - 1) + t.k) % (q.m - 1) AS cand
        FROM hh h, mq q, range({_A_TRIES}) t(k))
      WHERE gcd(cand, (SELECT m FROM mq)) = 1
      GROUP BY id
    ),
    cc AS (
      SELECT h.id, pa.a, coalesce(vp.pos, h.hb % q.m) AS c
      FROM hh h JOIN pa ON pa.id = h.id
           LEFT JOIN vp ON vp.id = h.id, mq q
    ),
    tg AS (SELECT q, ('0x' || substring(md5('{tag}-G:' || q), 1, 8))::BIGINT
                       % {P} AS gq
           FROM (SELECT unnest(range(1, (SELECT m FROM mq))) AS q)),
    tab AS (
      SELECT pp.p,
             1 + ('0x' || substring(md5(concat_ws(':', '{tag}-c', {seed},
                     pp.p)), 1, 8))::BIGINT % {P - 1} AS c,
             ('0x' || substring(md5(concat_ws(':', '{tag}-e', {seed},
                     pp.p)), 1, 8))::BIGINT % {P} AS e
      FROM (SELECT unnest(range({permutations})) AS p) pp
    ),
    tau AS (
      SELECT t.p, g.q,
             row_number() OVER (
               PARTITION BY t.p
               ORDER BY (t.c * g.gq + t.e) % {P} ASC, g.q ASC) AS tr
      FROM tab t, tg g
    ),
    sims AS (
      SELECT cc.id, tau.p, sum(vpd.y) AS s
      FROM cc JOIN deg d ON d.id = cc.id
           JOIN tau ON tau.tr <= d.d
           JOIN vp vpd
             ON vpd.pos = (cc.c + cc.a * tau.q) % (SELECT m FROM mq)
      GROUP BY cc.id, tau.p
    )"""


def getis_sim_oracle_sql(
    values_sql: str,
    knn_cte: str,
    *,
    permutations: int = 19,
    seed: int = 1234,
    pool_size: int | None = None,
) -> str:
    """DuckDB mirror of ``getis_gstar_sim``: same keyed affine
    rank→position draw (position (c_i + a_i·q) mod m for template slot q,
    a_i the first unit mod m in the 64-candidate window keyed by
    h32('gsim-A:seed:id'), c_i = own hash-shuffled pool position or
    h32('gsim-B:seed:id') mod m — ``_crand_rank_sums``) + shared
    per-permutation rank templates τ_p over slots 1..m−1
    (``_sim_slots``), same folded p_sim and pooled z_sim, same
    hash-ranked bounded candidate pool when ``pool_size`` is set (mirrors
    ``_hash_pool``, position order included).  ``values_sql`` must yield
    (id, y) with INTEGER-VALUED y so every sum is order-exact in both
    engines.  ``knn_cte`` is a WITH prologue providing pts and
    knn(id, nbr)."""
    draw = crand_draw_ctes("gsim", seed=seed, permutations=permutations,
                           pool_size=pool_size)
    return f"""{knn_cte},
    yv AS ({values_sql}),
    tot AS (SELECT sum(y) AS ysum, count(*) AS n FROM yv),
    deg AS (
      SELECT k.id, count(*) AS d, sum(yn.y) AS nbrsum
      FROM knn k JOIN yv yn ON k.nbr = yn.id GROUP BY k.id
    ),
    {draw},
    per AS (
      SELECT s.id,
             sum(CASE WHEN s.s >= d.nbrsum THEN 1 ELSE 0 END) AS larger,
             sum(s.s + yy.y) AS ssum,
             sum((s.s + yy.y) * (s.s + yy.y)) AS s2sum,
             any_value(d.d) AS d, any_value(d.nbrsum) AS nbrsum,
             any_value(yy.y) AS y
      FROM sims s JOIN deg d ON d.id = s.id JOIN yv yy ON yy.id = s.id
      GROUP BY s.id
    ),
    pool AS (
      SELECT sum(ssum / ((d + 1) * t.ysum)) / (any_value(t.n) * {permutations})
               AS eg,
             sum(s2sum / (((d + 1) * t.ysum) * ((d + 1) * t.ysum)))
               / (any_value(t.n) * {permutations}) AS e2
      FROM per, tot t
    )
    SELECT per.id,
           round((per.nbrsum + per.y) / ((per.d + 1) * t.ysum), 6) AS gs,
           round(((per.nbrsum + per.y) / ((per.d + 1) * t.ysum) - pool.eg)
                 / sqrt(pool.e2 - pool.eg * pool.eg), 6) AS z_sim,
           round((least(per.larger, {permutations} - per.larger) + 1.0)
                 / ({permutations} + 1), 6) AS p_sim
    FROM per, pool, tot t"""


def getis_gstar_pysal_sim(
    values: DataFrame,
    edges: DataFrame,
    *,
    value_col: str = "value",
    permutations: int = 999,
    seed: int = 1234,
) -> DataFrame:
    """Exact replica of PySAL 1.14.3 G_Local(star=True) permutation outputs.

    Returns (id, z_sim, p_sim, p_z_sim) matching the reference fixture
    byte-for-byte in expectation (verified to 1e-15 at seed 1234).  The
    conditional randomization consumes ONE sequential global RNG stream
    (rids matrix, then one shuffle per row in id order) — inherently serial,
    so this path collects the (bounded) value/degree vectors to the driver
    exactly like the reference collects its whole table; use it for
    fixture-scale parity, and ``getis_gstar`` at scale.
    """
    spark = values.sparkSession
    rows = (
        values.select("id", F.col(value_col).cast("double"))
        .join(
            edges.groupBy("id").agg(F.count("*").alias("deg")), "id"
        )
        .sort("id")
        .collect()
    )
    ids = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows], dtype=float)
    wc = np.array([r[2] for r in rows], dtype=int)

    nbr = {r[0]: [] for r in rows}
    for e in edges.select("id", "nbr").collect():
        nbr[e[0]].append(e[1])
    pos = {int(v): i for i, v in enumerate(ids)}
    n = len(y)
    y_sum = float(y.sum())
    gs = np.array(
        [(sum(y[pos[j]] for j in nbr[int(ids[i])]) + y[i]) / ((wc[i] + 1) * y_sum)
         for i in range(n)]
    )

    rng = np.random.RandomState(seed)
    k = int(wc.max()) + 1
    rids = np.array([rng.permutation(n - 1)[0:k] for _ in range(permutations)])
    ia = np.arange(n)
    den = wc + 1
    rGs = np.zeros((n, permutations))
    for i in range(n):
        idsi = ia[ia != i]
        rng.shuffle(idsi)
        tmp = (y[idsi[rids[:, 0 : wc[i]]]]).sum(1) + y[i]
        rGs[i] = (tmp / den[i]) / y_sum
    sim = rGs.T
    above = sim >= gs
    larger = above.sum(0)
    low = (permutations - larger) < larger
    larger[low] = permutations - larger[low]
    p_sim = (larger + 1.0) / (permutations + 1)
    eg, seg = sim.mean(), sim.std()
    z_sim = (gs - eg) / seg
    # p_z_sim = 1 − Φ(|z_sim|) = erfc(|z|/√2)/2
    from math import erf, sqrt

    p_z_sim = np.array([0.5 * (1.0 - erf(abs(z) / sqrt(2.0))) for z in z_sim])

    out = spark.createDataFrame(
        [
            (int(i), float(z), float(p), float(pz))
            for i, z, p, pz in zip(ids, z_sim, p_sim, p_z_sim)
        ],
        schema="id long, z_sim double, p_sim double, p_z_sim double",
    )
    return out
