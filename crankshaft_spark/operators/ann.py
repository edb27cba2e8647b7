"""Similarity search over embedding columns.

Engine-native addition for training-data pipelines: brute-force cosine
top-k as the exact baseline, and an LSH-bucketed variant (sign-random-
projection buckets) as the scale path.  The dot products run JVM-side via
``zip_with``/``aggregate`` higher-order functions — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda u, v: u * v),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _norm_expr(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, t: acc + t * t)
    )


def cosine_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cos, rank) — exact brute-force top-k by cosine to ``probe``.

    One scan + one top-k; ranking ties broken by id for determinism.
    """
    p = F.array(*[F.lit(float(v)) for v in probe])
    vec = F.col(vec_col).cast("array<double>")
    scored = embeddings.select(
        F.col(id_col),
        (_dot_expr(vec, p) / (_norm_expr(vec) * _norm_expr(p))).alias("cos"),
    )
    # global top-k via orderBy+limit: Catalyst plans TakeOrderedAndProject
    # (per-partition top-k then merge) — a global row_number window would
    # drag every row into ONE partition; the rank window below runs on k
    # rows only
    topk = scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(w))


def srp_bucket(
    embeddings: DataFrame,
    planes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection LSH bucket id per vector → (vec_id, bucket).

    ``planes`` are fixed (seeded, versioned) hyperplanes; bucket is the
    packed sign bit-vector.  ANN = equi-join on bucket (plus neighboring
    buckets for recall) then exact cosine re-rank — the same
    filter-and-refine shape as the spatial core.
    """
    vec = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(_dot_expr(vec, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(2**i))
    return embeddings.select(F.col(id_col), bucket.alias("bucket"))


def ann_topk_srp(
    embeddings: DataFrame,
    probe: list[float],
    planes: list[list[float]],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: restrict to the probe's SRP bucket, exact re-rank."""
    buckets = srp_bucket(embeddings, planes, id_col=id_col, vec_col=vec_col)
    probe_bucket = 0
    for i, plane in enumerate(planes):
        dot = sum(u * v for u, v in zip(probe, plane))
        probe_bucket += (1 if dot >= 0 else 0) * 2**i
    cands = embeddings.join(
        buckets.where(F.col("bucket") == probe_bucket).select(id_col), id_col
    )
    return cosine_topk(cands, probe, k, id_col=id_col, vec_col=vec_col)


def det_planes(n_planes: int, dims: int) -> list[list[float]]:
    """Deterministic pinned hyperplanes (versioned: srpv1) — closed-form
    integer arithmetic so the DuckDB oracle reproduces them exactly."""
    return [
        [(((i * 73856093 + j * 19349663) % 2001) - 1000) / 1000.0
         for j in range(dims)]
        for i in range(n_planes)
    ]


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    dims: int,
    n_planes: int = 8,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cos) — embedding near-duplicate pairs: SRP-bucket candidate
    join (only vectors agreeing on all n_planes sign bits meet), then exact
    cosine verify >= threshold.  The bucket join replaces the all-pairs
    cross product; recall is tuned by n_planes (fewer planes = bigger
    buckets = higher recall), the standard LSH dial."""
    planes = det_planes(n_planes, dims)
    b = srp_bucket(embeddings, planes, id_col=id_col, vec_col=vec_col)
    e = embeddings.join(b, id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"), "bucket"
    )
    left = e.select(F.col(id_col).alias("a"), F.col("_v").alias("_va"), "bucket")
    right = e.select(F.col(id_col).alias("b"), F.col("_v").alias("_vb"), "bucket")
    return (
        left.join(right, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "cos",
            _dot_expr(F.col("_va"), F.col("_vb"))
            / (_norm_expr(F.col("_va")) * _norm_expr(F.col("_vb"))),
        )
        .where(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def neardup_oracle_sql(table: str = "embeddings", *, dims: int = 64,
                       n_planes: int = 8, threshold: float = 0.25) -> str:
    bucket_sum = " + ".join(
        f"CASE WHEN dot{i} >= 0 THEN {2 ** i} ELSE 0 END"
        for i in range(n_planes)
    )
    dot_cols = ", ".join(
        f"sum(x * ((({i} * 73856093 + j * 19349663) % 2001) - 1000) / 1000.0)"
        f" AS dot{i}"
        for i in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
    comp AS (
      SELECT vec_id, j, v[j + 1] AS x
      FROM e, (SELECT unnest(generate_series(0, {dims - 1})) AS j)
    ),
    dots AS (SELECT vec_id, {dot_cols} FROM comp GROUP BY vec_id),
    bkt AS (SELECT vec_id, {bucket_sum} AS bucket FROM dots),
    nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nn FROM comp GROUP BY vec_id),
    cand AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM bkt x JOIN bkt y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    cosd AS (
      SELECT c.a, c.b, sum(ca.x * cb.x) AS dp
      FROM cand c
      JOIN comp ca ON ca.vec_id = c.a
      JOIN comp cb ON cb.vec_id = c.b AND ca.j = cb.j
      GROUP BY c.a, c.b
    )
    SELECT cosd.a, cosd.b, round(dp / (na.nn * nb.nn), 6) AS cos
    FROM cosd JOIN nrm na ON na.vec_id = cosd.a
              JOIN nrm nb ON nb.vec_id = cosd.b
    WHERE dp / (na.nn * nb.nn) >= {threshold}"""


def _assign_vec_lists(v: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, list_id) — nearest-centroid assignment as one codegen
    expression: array_min over (d2, idx) structs, ties to the lower index
    (the kmeans_lloyd pattern, generalized to array columns)."""
    # d2 is a float fold feeding a comparison — pin to 9dp (CLAUDE.md float
    # rule) so mathematically-tied distances (symmetric data) agree across
    # engines/fold orders and resolve by the c ASC tie-break identically
    arr = F.array(*[
        F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("_v"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda u, cc: (u - cc) * (u - cc),
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                9,
            ).alias("d2"),
            F.lit(i).alias("c"),
        )
        for i, c in enumerate(centroids)
    ])
    return v.select("vec_id", F.array_min(arr)["c"].alias("list_id"))


def lloyd_vec_centroids(
    embeddings: DataFrame,
    *,
    n_lists: int,
    iters: int = 3,
    round_dp: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd coarse quantizer over array-valued vectors:
    initial centroids are the ``n_lists`` lowest-id vectors; each iteration
    reassigns (argmin with index tie-break) and recomputes per-dimension
    means ROUNDED to ``round_dp`` (the float pin — sums of doubles are
    order-sensitive in ulps, the round makes Spark/DuckDB/parallelism
    agree); empty lists carry their previous centroid.  Exactly mirrored by
    ``ivf_oracle_sql``.

    This stays a kernel of its own, apart from kmeans' column-wise
    ``_lloyd``: its d2 is an array fold rounded to 9 dp and its means are
    pinned with ``round_dp``, so running it through the unrounded column
    kernel would change comparison bits and the ``ann_ivf`` oracle hash."""
    v = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).cache()
    init = v.orderBy("vec_id").limit(n_lists).collect()
    if not init:
        v.unpersist()
        raise ValueError("lloyd_vec_centroids: no input vectors")
    cents = [[float(x) for x in r["_v"]] for r in init]
    for _ in range(iters):
        upd = (
            _assign_vec_lists(v, cents)
            .join(v, "vec_id")
            .select("list_id", F.posexplode("_v").alias("j", "x"))
            .groupBy("list_id", "j")
            .agg(F.round(F.avg("x"), round_dp).alias("m"))
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in upd:
            nxt[r["list_id"]][r["j"]] = float(r["m"])
        cents = nxt
    v.unpersist()
    return cents


def ivf_index(
    embeddings: DataFrame,
    *,
    n_lists: int = 16,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
    quantizer: str = "kmeans",
    iters: int = 3,
):
    """Train an IVF coarse quantizer and assign every vector to its nearest
    centroid list → (centroids, assignments).

    ``quantizer='kmeans'``: pyspark.ml k-means|| (best quality, seed-
    dependent).  ``quantizer='lloyd'``: the deterministic pinned-init Lloyd
    (lloyd_vec_centroids) — bit-reproducible at any parallelism and exactly
    expressible in SQL, so IVF search results gain a DuckDB oracle.

    ``centroids``: list[list[float]] (n_lists × dims, driver-side — tiny);
    ``assignments``: DataFrame (vec_id, list_id).  The scale path for ANN:
    search probes only the closest ``n_probe`` lists instead of the corpus.
    """
    if quantizer == "lloyd":
        centroids = lloyd_vec_centroids(
            embeddings, n_lists=n_lists, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
        v = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        assignments = _assign_vec_lists(v, centroids).withColumnRenamed(
            "vec_id", id_col
        )
        return centroids, assignments
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat"),
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="_feat").fit(feat)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    assignments = model.transform(feat).select(
        id_col, F.col("prediction").cast("int").alias("list_id")
    )
    return centroids, assignments


def ann_topk_ivf(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    *,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
    quantizer: str = "kmeans",
    iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` centroid lists nearest
    the query, exact cosine re-rank inside them — candidates shrink by
    ~n_probe/n_lists while recall stays high for clustered corpora."""
    centroids, assignments = ivf_index(
        embeddings, n_lists=n_lists, id_col=id_col, vec_col=vec_col,
        seed=seed, quantizer=quantizer, iters=iters,
    )

    def dist2(c):
        # same 9dp pin as the assignment/oracle d2 (comparison feed)
        return round(sum((u - v) ** 2 for u, v in zip(c, probe)), 9)

    order = sorted(range(len(centroids)), key=lambda i: dist2(centroids[i]))
    probe_lists = order[:n_probe]
    cands = embeddings.join(
        assignments.where(F.col("list_id").isin(probe_lists)).select(id_col),
        id_col,
    )
    return cosine_topk(cands, probe, k, id_col=id_col, vec_col=vec_col)


def ivf_oracle_sql(
    table: str,
    probe_sql: str,
    *,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    iters: int = 3,
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of ann_topk_ivf(quantizer='lloyd'): unrolled Lloyd on
    (vec_id, j, x) with the same pinned init / rounded means / argmin
    tie-break, probe-list selection by (d2 asc, list asc), exact cosine
    top-k inside the probed lists.  ``probe_sql`` must yield (j, pv) for
    j = 0..dims-1 with the same closed form as the Spark call."""
    d2 = "round(sum((c.x - t.v) * (c.x - t.v)), 9)"
    parts = [f"""
    WITH comp AS (
      SELECT vec_id, CAST(j AS INT) AS j,
             CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE) AS x
      FROM {table}, LATERAL unnest(range(len(embedding))) AS g(j)
    ),
    probe AS ({probe_sql}),
    init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
             FROM (SELECT DISTINCT vec_id FROM comp
                   ORDER BY vec_id LIMIT {n_lists})),
    c0 AS (SELECT i.c, comp.j, comp.x AS v
           FROM init i JOIN comp ON comp.vec_id = i.vec_id)"""]
    for it in range(iters):
        prev, an, cn = f"c{it}", f"a{it + 1}", f"c{it + 1}"
        parts.append(f""",
    {an} AS (
      SELECT vec_id, c FROM (
        SELECT c.vec_id, t.c, row_number() OVER (
          PARTITION BY c.vec_id ORDER BY {d2} ASC, t.c ASC
        ) AS rk
        FROM comp c JOIN {prev} t ON c.j = t.j
        GROUP BY c.vec_id, t.c
      ) WHERE rk = 1
    ),
    {cn} AS (
      SELECT p.c, p.j, coalesce(u.m, p.v) AS v
      FROM {prev} p LEFT JOIN (
        SELECT a.c, comp.j, round(avg(comp.x), {round_dp}) AS m
        FROM {an} a JOIN comp ON comp.vec_id = a.vec_id
        GROUP BY a.c, comp.j
      ) u ON u.c = p.c AND u.j = p.j
    )""")
    fin = f"c{iters}"
    parts.append(f""",
    plists AS (
      SELECT c FROM (
        SELECT t.c, row_number() OVER (
          ORDER BY round(sum((t.v - p.pv) * (t.v - p.pv)), 9) ASC, t.c ASC
        ) AS rk
        FROM {fin} t JOIN probe p ON p.j = t.j
        GROUP BY t.c
      ) WHERE rk <= {n_probe}
    ),
    members AS (
      SELECT vec_id FROM (
        SELECT c.vec_id, t.c, row_number() OVER (
          PARTITION BY c.vec_id ORDER BY {d2} ASC, t.c ASC
        ) AS rk
        FROM comp c JOIN {fin} t ON c.j = t.j
        GROUP BY c.vec_id, t.c
      ) WHERE rk = 1 AND c IN (SELECT c FROM plists)
    ),
    scored AS (
      SELECT c.vec_id,
             sum(c.x * p.pv)
             / (sqrt(sum(c.x * c.x)) * sqrt(sum(p.pv * p.pv))) AS cos
      FROM comp c JOIN probe p ON p.j = c.j
      WHERE c.vec_id IN (SELECT vec_id FROM members)
      GROUP BY c.vec_id
    )
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT)
             AS rank,
           round(cos, 5) AS cos
    FROM scored
    QUALIFY rank <= {k}""")
    return "".join(parts)


def embedding_near_dedup(
    embeddings: DataFrame,
    *,
    dims: int,
    n_planes: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_col: str | None = None,
    pairs: DataFrame | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """Keep one vector per embedding near-dup cluster — the embedding
    member of the one-call near-dedup family (text: dedup.near_dedup,
    image: multimodal.media_near_dedup, audio: audio_near_dedup), i.e.
    SemDeDup-style semantic dedup (public recipe: embed → bucket →
    cosine pairs → keep one per connected cluster):
    embedding_neardup_pairs (SRP-bucketed candidate join, never
    all-pairs) → connected components → keep the best-scoring member
    under ``keep_col`` (higher = better; ties and NULLs fall back to min
    id) or the min-id member by default → the surviving rows, all
    columns intact.

    A thin caller of dedup._near_dedup.  Pairs endpoints are embeddings
    ids by construction, so the keeper is always a real row.

    ``pairs=`` / ``components=`` reuse precomputed stages (the
    near_dedup convention): a caller that already materialized the SRP
    pair table or the component labels (e.g. the gate entry, which
    surfaces all three stages) skips re-running them.  ``components``
    must come from ``dedup_components`` over the SAME embeddings/pairs
    with the same ``keep_col``; when given, ``pairs``/``keep_col``/SRP
    knobs are ignored."""
    from crankshaft_spark.operators.dedup import _near_dedup

    if components is None and pairs is None:
        pairs = embedding_neardup_pairs(
            embeddings, dims=dims, n_planes=n_planes,
            threshold=threshold, id_col=id_col, vec_col=vec_col)
    return _near_dedup(embeddings, embeddings, pairs, id_col=id_col,
                       keep_col=keep_col, components=components)
