"""Host link-graph analytics: integer fixed-point PageRank.

The Common-Crawl-style corpus side of the engine (BASELINE.json
input_hint) ranks hosts by link structure before sampling/filtering —
the classic web-pipeline quality prior next to the per-document signals
in operators/text.py.  The reference has no graph operators (its scope
is the spatial PL/Python suite); this family extends the engine along
the training-data-pipeline axis like dedup/ANN/BM25.

Determinism contract: every rank is a BIGINT in fixed-point "mass
units" (scale_total total mass), every per-edge contribution is a
BIGINT floor division, and every per-node update sums BIGINTs — integer
sums commute, so the result is bit-identical at any parallelism and
replays exactly in DuckDB (unrolled MATERIALIZED passes; no float
anywhere).  Rank mass leaks at dangling nodes (documented, like the
classic power-iteration-with-drop formulation); host_links gives every
host WITH PAGES out-degree >= HOST_LINKS_L, but a pageless host slot
that appears only as a link target still enters the node set dangling.

Overflow domain: the per-edge contribution uses the exact split
  floor(r·w/o) = (r div o)·w + ((r mod o)·w) div o
so no intermediate exceeds max(r, o·w) ≈ max(scale_total, out_deg²) —
safe in BIGINT for out-degrees up to ~3·10⁹ links (vs the naive r·w
product, which overflows ANSI Spark already at ~10⁶ links/host with the
default scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.operators._fixpoint import _fixpoint, _Scope

#: links emitted per page; targets are a keyed affine walk over the other
#: 63 host slots, so dst != src by construction and every host with >= 1
#: page has out-degree >= 1.
HOST_LINKS_L = 3
HOST_MOD = 64


def _contrib(div: str) -> str:
    """The overflow-safe per-edge contribution floor(rank·w/out) as the
    exact split form (ONE builder for both engines — ``div`` is Spark's
    ``div`` or DuckDB's ``//``; semantics identical for the non-negative
    operands here)."""
    return (f"(rank_fp {div} out_w) * w "
            f"+ ((rank_fp % out_w) * w) {div} out_w")


def _edge_input(scope: _Scope, edges: DataFrame, bad, msg: str):
    """(e, nodes): the call's edge-table cut, whose own job raises
    ``msg`` on any row where ``bad`` holds (no extra action), and its
    node set src ∪ dst."""
    e = scope.cut(edges.withColumn(
        "w", F.when(bad, F.raise_error(F.lit(msg))).otherwise(F.col("w"))))
    return e, (e.select(F.col("src").alias("host"))
               .unionByName(e.select(F.col("dst").alias("host"))).distinct())


def host_links(pages: DataFrame, *, n_hosts: int = HOST_MOD) -> DataFrame:
    """(src, dst, w) host→host link counts derived closed-form from the
    synthesized page table (pages: page_id, host_id): page p of host h
    emits links to (h + 1 + ((p·7919 + j·104729) mod (n_hosts−1)))
    mod n_hosts for j = 1..HOST_LINKS_L.  Pure BIGINT arithmetic —
    identical in host_links_sql — aggregated by one map-side-combinable
    count."""
    links = pages.select(
        F.col("host_id").alias("src"),
        F.explode(F.expr(
            f"transform(sequence(1, {HOST_LINKS_L}), j -> "
            f"(host_id + 1 + ((page_id * 7919 + j * 104729) "
            f"% {n_hosts - 1})) % {n_hosts})")).alias("dst"),
    )
    return links.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("w"))


def host_links_sql(pages_sql: str, *, n_hosts: int = HOST_MOD) -> str:
    """DuckDB mirror of ``host_links`` — same affine target walk, same
    count aggregate.  ``pages_sql`` must yield (page_id, host_id)."""
    return f"""
    SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
      SELECT host_id AS src,
             (host_id + 1 + ((page_id * 7919 + j * 104729)
               % {n_hosts - 1})) % {n_hosts} AS dst
      FROM ({pages_sql}) hlp,
           LATERAL unnest(range(1, {HOST_LINKS_L} + 1)) AS hlj(j)
    ) GROUP BY src, dst"""


def pagerank_fp(
    edges: DataFrame,
    *,
    iters: int = 5,
    scale_total: int = 10 ** 12,
    damp_num: int = 85,
    damp_den: int = 100,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(host, rank_fp) — damped PageRank over a weighted directed graph,
    carried entirely in BIGINT fixed point:

        r⁰(t)    = Q div n                         (Q = scale_total)
        rᵏ⁺¹(t)  = base(t) + (85 · Σ_{{h→t}} (rᵏ(h)·w(h,t)) div out(h)) div 100
        base(t)  = (15 · (Q div n)) div 100

    Floor divisions make every step integer-exact; the per-target sum is
    a BIGINT sum (order-free).  Nodes = src ∪ dst of the edge table;
    dangling nodes (no out-edges) leak their mass, documented above.

    ``seeds`` (a one-column ``host`` DataFrame) switches to PERSONALIZED
    PageRank: the teleport mass goes uniformly to the seed set only —
    n becomes |seeds ∩ nodes| in the formulas above, r⁰ and base(t) are
    nonzero only at seeds, and the same integer algebra applies, so the
    personalized form keeps the bit-identical / replayable contract.

    Edge weights must be > 0 (a source whose weights sum to 0 divides by
    zero; negative weights give meaningless ranks): any w <= 0 fails the
    call with a ``pagerank_fp:`` error from the edge-table checkpoint.

    Each round is one rank join + groupBy(dst) sum + left join back,
    shuffling on (dst) only; the rank table is checkpointed every TWO
    rounds (operators/_fixpoint.py).
    """
    if iters < 0:
        raise ValueError(f"pagerank_fp: iters must be >= 0, got {iters}")
    with _Scope(edges.sparkSession) as scope:
        e, nodes = _edge_input(scope, edges, F.col("w") <= 0,
                               "pagerank_fp: edge weights must be > 0")
        out = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        ew = scope.cut(e.join(out, "src"))
        if seeds is None:
            teleport = nodes
        else:
            teleport = nodes.join(
                seeds.select(F.col("host")).distinct(), "host", "left_semi")
            # loud guard instead of an ANSI DIVIDE_BY_ZERO deep in the
            # plan (one bounded driver check — teleport sets are small)
            if teleport.limit(1).count() == 0:
                raise ValueError(
                    "pagerank_fp: seeds do not intersect the graph's "
                    "node set")
        n1 = teleport.agg(F.count(F.lit(1)).alias("_n"))
        consts = n1.select(
            "_n",
            F.expr(f"{scale_total} div _n").alias("_r0"),
            F.expr(f"({damp_den - damp_num} * ({scale_total} div _n)) "
                   f"div {damp_den}").alias("_base"),
        )
        flagged = nodes.join(
            teleport.select("host", F.lit(True).alias("_t")), "host", "left")
        r = scope.cut(flagged.join(F.broadcast(consts)).select(
            "host",
            F.expr("CASE WHEN _t THEN _r0 ELSE CAST(0 AS BIGINT) END")
            .alias("rank_fp"),
            F.expr("CASE WHEN _t THEN _base ELSE CAST(0 AS BIGINT) END")
            .alias("_base")))
        scope.release(e)  # r0 and ew are materialized: e is dead

        def step(r: DataFrame, _k: int) -> DataFrame:
            contrib = (
                ew.join(r.select(F.col("host").alias("src"), "rank_fp"),
                        "src")
                .select(
                    F.col("dst").alias("host"),
                    F.expr(_contrib("div")).alias("_c"))
            )
            sums = contrib.groupBy("host").agg(F.sum("_c").alias("_s"))
            return (
                r.select("host", "_base").join(sums, "host", "left")
                .select(
                    "host",
                    F.expr(f"_base + ({damp_num} * coalesce(_s, 0)) "
                           f"div {damp_den}").alias("rank_fp"),
                    "_base")
            )

        r = _fixpoint(scope, step, r, rounds=iters, every=2)
        scope.keep(r)
    return r.select("host", "rank_fp")


def pagerank_oracle_sql(
    edges_sql: str,
    *,
    iters: int = 5,
    scale_total: int = 10 ** 12,
    damp_num: int = 85,
    damp_den: int = 100,
    seeds_sql: str | None = None,
) -> str:
    """DuckDB mirror of ``pagerank_fp`` — the driver loop unrolled as one
    MATERIALIZED CTE per round (level-synchronous replay; DuckDB's
    HUGEINT sums are cast back to BIGINT after the div, matching Spark's
    BIGINT algebra exactly).  ``edges_sql`` must yield (src, dst,
    w BIGINT); ``seeds_sql`` (one ``host`` column) mirrors the
    personalized form — teleport restricted to seeds ∩ nodes, r⁰/base
    zero elsewhere."""
    base = f"({damp_den - damp_num} * ({scale_total} // prn.n)) // {damp_den}"
    passes = []
    prev = "pr0"
    for k in range(1, iters + 1):
        passes.append(f"""pr{k} AS MATERIALIZED (
      SELECT p.host,
             CAST(p.base + ({damp_num} * coalesce(s.s, 0)) // {damp_den}
                  AS BIGINT) AS rank_fp,
             p.base
      FROM {prev} p LEFT JOIN (
        SELECT dst AS host, CAST(sum({_contrib('//')}) AS BIGINT) AS s
        FROM (SELECT e.dst, e.w, e.out_w, r.rank_fp
              FROM prew e JOIN {prev} r ON e.src = r.host)
        GROUP BY dst
      ) s ON p.host = s.host
    )""")
        prev = f"pr{k}"
    joined = ",\n    ".join(passes)
    sep = "," if passes else ""
    tele = ("SELECT host FROM prnodes" if seeds_sql is None else
            f"SELECT n.host FROM prnodes n JOIN (SELECT DISTINCT host "
            f"FROM ({seeds_sql})) prs ON n.host = prs.host")
    return f"""WITH pre AS MATERIALIZED ({edges_sql}),
    prout AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
              FROM pre GROUP BY src),
    prew AS MATERIALIZED (SELECT pre.src, pre.dst, pre.w, prout.out_w
                          FROM pre JOIN prout USING (src)),
    prnodes AS MATERIALIZED (SELECT DISTINCT src AS host FROM pre
                UNION SELECT DISTINCT dst AS host FROM pre),
    prtele AS MATERIALIZED ({tele}),
    prn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM prtele),
    pr0 AS MATERIALIZED (
      SELECT n.host,
             CAST(CASE WHEN t.host IS NOT NULL THEN {scale_total} // prn.n
                  ELSE 0 END AS BIGINT) AS rank_fp,
             CAST(CASE WHEN t.host IS NOT NULL THEN {base}
                  ELSE 0 END AS BIGINT) AS base
      FROM prnodes n LEFT JOIN prtele t ON n.host = t.host, prn
    ){sep}
    {joined}
    SELECT host, rank_fp FROM {prev}"""


def hits_fp(
    edges: DataFrame,
    *,
    iters: int = 5,
    scale: int = 10 ** 6,
) -> DataFrame:
    """(host, auth_fp, hub_fp) — Kleinberg HITS over a weighted directed
    graph in BIGINT fixed point, the link-analysis companion to
    pagerank_fp (hubs = pages that point at good authorities;
    authorities = pages good hubs point at):

        aᵏ(t) = Σ_{h→t} hᵏ⁻¹(h)·w    then max-normalized to ``scale``
        hᵏ(h) = Σ_{h→t} aᵏ(t)·w      then max-normalized to ``scale``

    Normalization is (x·scale) div max(x) — integer max and floor
    division are order-free, so results are bit-identical at any
    parallelism and replay exactly in DuckDB (hits_oracle_sql).  Nodes
    with no in-edges get authority 0; no out-edges → hub 0 (the
    standard convention).  Overflow domain: the BINDING constraint is
    the normalization product mx·scale < 2⁶³ where mx ≤ scale·(max
    weighted in-degree) — with scale 10⁶ that bounds the weighted
    in-degree at ~9.2·10⁶ per node (hubs saturate at scale on regular
    graphs).  For heavier graphs lower ``scale`` (domain widens as
    2⁶³/scale²) or pre-aggregate edge weights.

    Edge weights must be >= 0 (a negative max breaks the normalization):
    any w < 0 fails the call with a ``hits_fp:`` error from the
    edge-table checkpoint.

    Each round is ONE action: the pre-norm hub aggregate is checkpointed
    (operators/_fixpoint.py) and both max-normalizations stay LAZY
    broadcast one-row CASE joins folded into the next round's plan.  The
    zero-fill join against the node table runs ONCE after the loop —
    hosts absent from a round's aggregate carry value 0, contribute 0 to
    the next round's sums, and leave the max unchanged, so deferring the
    fill is value-identical.  Shuffle O(edges) per round.
    """
    if iters < 0:
        raise ValueError(f"hits_fp: iters must be >= 0, got {iters}")

    def norm(raw: DataFrame, col: str) -> DataFrame:
        """Lazy max-normalization: one-row broadcast + CASE (no action)."""
        mx = raw.agg(F.max(col).alias("_mx"))
        return raw.join(F.broadcast(mx)).select(
            "host",
            F.expr(f"CASE WHEN _mx > 0 THEN ({col} * {scale}) div _mx "
                   f"ELSE {col} END").alias(col))

    with _Scope(edges.sparkSession) as scope:
        e, nodes = _edge_input(scope, edges, F.col("w") < 0,
                               "hits_fp: edge weights must be >= 0")
        # nodes checkpointed so e's blocks are released at loop end
        # instead of surviving until the caller materializes the output
        # fill join; round 0 starts every node at `scale`
        nodes = scope.cut(nodes)
        a = nodes.select("host", F.lit(scale).cast("long").alias("auth_fp"))

        def step(h_raw: DataFrame, k: int) -> DataFrame:
            nonlocal a
            a = norm(
                e.join(norm(h_raw, "hub_fp")
                       .select(F.col("host").alias("src"), "hub_fp"), "src")
                .groupBy(F.col("dst").alias("host"))
                .agg(F.sum(F.expr("hub_fp * w")).alias("auth_fp")),
                "auth_fp")
            if k == iters:
                # final a feeds both the last hub aggregate and the output
                # join — materialize it so the round runs exactly once
                a = scope.cut(a)
            return (
                e.join(a.select(F.col("host").alias("dst"), "auth_fp"), "dst")
                .groupBy(F.col("src").alias("host"))
                .agg(F.sum(F.expr("auth_fp * w")).alias("hub_fp")))

        h_raw = _fixpoint(scope, step, nodes.select(
            "host", F.lit(scale).cast("long").alias("hub_fp")), rounds=iters)
        scope.keep(nodes, a, h_raw)
        return (
            nodes.join(a, "host", "left")
            .join(norm(h_raw, "hub_fp"), "host", "left")
            .na.fill({"auth_fp": 0, "hub_fp": 0})
            .select("host", "auth_fp", "hub_fp"))


def hits_oracle_sql(
    edges_sql: str,
    *,
    iters: int = 5,
    scale: int = 10 ** 6,
) -> str:
    """DuckDB mirror of ``hits_fp`` — one MATERIALIZED CTE per half-round
    (authority then hub), HUGEINT sums cast back to BIGINT, the same
    (x·scale) // max normalization.  ``edges_sql`` must yield (src, dst,
    w BIGINT)."""
    passes = []
    prev = "ht0"
    for k in range(1, iters + 1):
        passes.append(f"""hta{k} AS MATERIALIZED (
      SELECT n.host,
             CAST(coalesce(s.a, 0) AS BIGINT) AS auth_fp
      FROM htnodes n LEFT JOIN (
        SELECT e.dst AS host, CAST(sum(r.hub_fp * e.w) AS BIGINT) AS a
        FROM hte e JOIN {prev} r ON e.src = r.host
        GROUP BY e.dst
      ) s ON n.host = s.host
    ),
    htan{k} AS MATERIALIZED (
      SELECT host,
             CASE WHEN m.mx > 0 THEN (auth_fp * {scale}) // m.mx
                  ELSE auth_fp END AS auth_fp
      FROM hta{k}, (SELECT max(auth_fp) AS mx FROM hta{k}) m
    ),
    hth{k} AS MATERIALIZED (
      SELECT n.host,
             CAST(coalesce(s.h, 0) AS BIGINT) AS hub_fp
      FROM htnodes n LEFT JOIN (
        SELECT e.src AS host, CAST(sum(a.auth_fp * e.w) AS BIGINT) AS h
        FROM hte e JOIN htan{k} a ON e.dst = a.host
        GROUP BY e.src
      ) s ON n.host = s.host
    ),
    ht{k} AS MATERIALIZED (
      SELECT a.host, a.auth_fp,
             CAST(CASE WHEN m.mx > 0 THEN (h.hub_fp * {scale}) // m.mx
                  ELSE h.hub_fp END AS BIGINT) AS hub_fp
      FROM htan{k} a JOIN hth{k} h ON a.host = h.host,
           (SELECT max(hub_fp) AS mx FROM hth{k}) m
    )""")
        prev = f"ht{k}"
    joined = ",\n    ".join(passes)
    sep = "," if passes else ""
    return f"""WITH hte AS MATERIALIZED ({edges_sql}),
    htnodes AS MATERIALIZED (SELECT DISTINCT src AS host FROM hte
                UNION SELECT DISTINCT dst AS host FROM hte),
    ht0 AS MATERIALIZED (
      SELECT host, CAST({scale} AS BIGINT) AS auth_fp,
             CAST({scale} AS BIGINT) AS hub_fp
      FROM htnodes
    ){sep}
    {joined}
    SELECT host, auth_fp, hub_fp FROM {prev}"""
