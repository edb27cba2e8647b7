"""Near-duplicate detection for training-data pipelines: MinHash+LSH,
SimHash, and winnowing-style document fingerprints.

Engine-native additions beyond the reference's operator set (the brief's
dedup family).  Everything is closed-form portable arithmetic — the 32-bit
shingle hash is ``int(hex(md5(sh))[0:8])``, identical in Spark
(``conv(substring(md5(x),1,8),16,10)``) and DuckDB
(``('0x' || substring(md5(x),1,8))::BIGINT``) — so every operator here has
an exact DuckDB oracle.  All hot paths are built-in JVM expressions; the
one Python stage is dedup_components' bounded numpy block solve (one
vectorized mapInPandas call per Arrow batch, no per-row Python).

Scale shape: shingle explode → per-doc aggregate (map-side combinable), LSH
band equi-join for candidates (never the all-pairs cross product), exact
verify on the candidate set only — the classic filter-and-refine, same as
the spatial core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.operators._fixpoint import _fixpoint, _Scope
from crankshaft_spark.operators.text import shingles

MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_K = 16             # signature length
MINHASH_BANDS = 4          # bands of r = K/BANDS rows

SIMHASH_BITS = 32
FP_K = 8                   # fingerprint k-gram length
FP_W = 16                  # winnow window


def _h32(col):
    """Portable 32-bit string hash (first 8 hex chars of md5)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT)"


def _ab(j: int) -> tuple[int, int]:
    """Deterministic hash-family coefficients for minhash function j."""
    return 2 * j + 1, 7919 * j + 13


def minhash_signatures(
    docs: DataFrame, *, text_col: str = "text", n: int = 4,
    k: int = MINHASH_K, id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — minhash signature over the distinct
    character-n-gram shingle set; mh_j = min over shingles of
    (a_j·h32(sh) + b_j) mod P."""
    sh = shingles(docs, text_col=text_col, n=n, id_col=id_col)
    # materialize the 32-bit hash ONCE per shingle: each aggregate below
    # only does integer arithmetic on it (embedding _h32 in every agg would
    # recompute the md5 k times per row)
    hx = sh.select(id_col, _h32(F.col("sh")).alias("_x"))
    x = F.col("_x")
    aggs = []
    for j in range(k):
        a, b = _ab(j)
        aggs.append(F.min((x * a + b) % MINHASH_P).alias(f"mh{j}"))
    return hx.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame, *, text_col: str = "text", n: int = 4,
    k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    threshold: float = 0.5, id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, est_jaccard) — candidate pairs from LSH banding, scored by the
    signature-match fraction, kept at est_jaccard >= threshold.

    shingle→minhash→band→bucket-join: docs collide iff one full band of
    r = k/bands signature slots matches; est_jaccard = (#matching slots)/k
    is the unbiased Jaccard estimate.  The banding is ONE posexploded
    (band_index, band_key) table feeding a single composite-key
    equi-join — the simhash_pairs r2 rewrite (its per-band self-join
    union re-ran the post-shuffle signature work once per band).
    """
    if k % bands:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: truncating r = k//bands "
            "silently drops the tail signature slots from every band and "
            "shifts the LSH S-curve — pick bands | k"
        )
    sig = minhash_signatures(docs, text_col=text_col, n=n, k=k, id_col=id_col)
    r = k // bands
    band_keys = [
        F.concat_ws("_", *[F.col(f"mh{band * r + i}") for i in range(r)])
        for band in range(bands)
    ]
    banded = sig.select(
        id_col,
        F.posexplode(F.array(*band_keys)).alias("_band", "_key"),
        *[F.col(f"mh{j}") for j in range(k)],
    )
    left = banded.select(
        F.col(id_col).alias("a"), "_band", "_key",
        *[F.col(f"mh{j}").alias(f"la{j}") for j in range(k)],
    )
    right = banded.select(
        F.col(id_col).alias("b"), "_band", "_key",
        *[F.col(f"mh{j}").alias(f"ra{j}") for j in range(k)],
    )
    pairs = left.join(right, ["_band", "_key"]).where(
        F.col("a") < F.col("b")
    )
    matches = sum(
        (F.when(F.col(f"la{j}") == F.col(f"ra{j}"), 1).otherwise(0)
         for j in range(k)),
        F.lit(0),
    )
    # score/filter BEFORE the pair dedup (est_jaccard is identical for
    # every banded copy of a pair): the threshold cut shrinks the
    # dropDuplicates shuffle — same reorder as simhash_pairs
    return (
        pairs.withColumn("est_jaccard", matches.cast("double") / F.lit(float(k)))
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["a", "b"])
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def _best_member(members: DataFrame, scored: DataFrame, id_col: str,
                 keep_col: str | None) -> DataFrame:
    """(component, _bid) — the near-dedup family's one keeper rule: per
    component of ``members`` (id_col, component), the member with the
    highest ``keep_col`` in ``scored`` (higher = better; ties go to the
    min id, and a NULL or missing score loses to any scored member), or
    the min id without ``keep_col``.  Duplicate ``scored`` rows collapse
    to the id's best score instead of fanning the members out."""
    if keep_col is None:
        return members.groupBy("component").agg(F.min(id_col).alias("_bid"))
    kv = scored.groupBy(id_col).agg(F.max(keep_col).alias("_kv"))
    neg = -F.coalesce(F.col("_kv").cast("double"), F.lit(float("-inf")))
    return (
        members.join(kv, id_col, "left")
        .groupBy("component")
        .agg(F.min(F.struct(neg.alias("_neg"), F.col(id_col).alias("_bid")))
             .alias("_b"))
        .select("component", "_b._bid")
    )


def _near_dedup(
    rows: DataFrame, scored: DataFrame, pairs: DataFrame | None, *,
    id_col: str, keep_col: str | None = None,
    components: DataFrame | None = None, rechoose: bool = False,
) -> DataFrame:
    """The one near-dedup composition (near_dedup, embedding_near_dedup,
    media_near_dedup, audio_near_dedup): ``pairs`` → dedup_components
    over ``scored`` (or the caller's ``components``) → ``rows``
    anti-joined with the ids that lose their cluster, so uncovered ids
    survive.  The keeper is is_keep, chosen inside dedup_components' own
    cut: the result never reads ``scored`` again, so it may be released.
    ``rechoose`` re-chooses it by the same rule (_best_member) among the
    members present in ``rows``: external pairs can make a pair-only id
    the label (rows={5,6,9}, pairs={(3,5),(5,6)} labels 5 and 6 as 3)."""
    if components is None:
        components = dedup_components(
            scored, pairs, id_col=id_col,
            keep_col=None if rechoose else keep_col)
    if rechoose:
        members = components.select(id_col, "component").join(
            rows.select(id_col), id_col, "semi")
        best = _best_member(members, rows, id_col, keep_col)
        drop = members.join(
            best.select(F.col("_bid").alias(id_col)), id_col, "anti")
    else:
        drop = components.where(~F.col("is_keep"))
    return rows.join(drop.select(id_col), id_col, "anti")


def near_dedup(
    docs: DataFrame, *, text_col: str = "text", threshold: float = 0.5,
    n: int = 4, k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    id_col: str = "doc_id", keep_col: str | None = None,
    pairs: DataFrame | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """The one-call near-dedup a training pipeline runs: MinHash+LSH
    candidate pairs → connected components → keep one doc per transitive
    cluster (``keep_col`` keeps the best-scoring member, default the
    min-id one) → the surviving docs, all columns intact, via the shared
    composition (_near_dedup) with the keeper chosen AMONG DOCS MEMBERS.
    Gate-checked end-to-end via the minhash_lsh entry's survivor arm.  No
    broadcast is forced on the survivor anti-join (pytest drives the
    shuffled fallback with autoBroadcastJoinThreshold=-1).

    ``pairs`` supplies precomputed candidate pairs (skipping the MinHash
    stage); ``components`` a precomputed dedup_components output (only
    its labels are used; it takes precedence over ``pairs``), letting a
    caller that already ran label propagation (the minhash_lsh gate
    entry) avoid paying it twice.  Docs ids it does not cover survive.
    ``docs`` must be unique per ``id_col`` (the engine-wide contract):
    duplicate id rows pass the anti-join verbatim."""
    if components is None and pairs is None:
        pairs = minhash_lsh_pairs(
            docs, text_col=text_col, n=n, k=k, bands=bands,
            threshold=threshold, id_col=id_col)
    return _near_dedup(docs, docs, pairs, id_col=id_col, keep_col=keep_col,
                       components=components, rechoose=True)


def minhash_oracle_sql(docs_sql: str, *, n: int = 4, k: int = MINHASH_K,
                       bands: int = MINHASH_BANDS,
                       threshold: float = 0.5) -> str:
    """DuckDB equivalent of minhash_lsh_pairs over ``docs_sql``
    (doc_id, text)."""
    mh_cols = []
    for j in range(k):
        a, b = _ab(j)
        mh_cols.append(
            f"min(({h32_sql('sh')} * {a} + {b}) % {MINHASH_P}) AS mh{j}"
        )
    r = k // bands
    band_exprs = []
    for band in range(bands):
        parts = " || '_' || ".join(
            f"CAST(mh{band * r + i} AS VARCHAR)" for i in range(r)
        )
        band_exprs.append(f"({parts}) AS band{band}")
    match_sum = " + ".join(
        f"CASE WHEN x.mh{j} = y.mh{j} THEN 1 ELSE 0 END" for j in range(k)
    )
    # per-band equi-joins unioned + DISTINCT — an OR of band equalities
    # would plan as a nested-loop join in DuckDB
    band_arms = " UNION ALL ".join(
        f"""SELECT x.doc_id AS a, y.doc_id AS b,
             ({match_sum}) / {float(k)} AS est_jaccard
           FROM banded x JOIN banded y ON x.band{b} = y.band{b}
           WHERE x.doc_id < y.doc_id"""
        for b in range(bands)
    )
    return f"""
    WITH d AS ({docs_sql}),
    sh AS (
      SELECT DISTINCT doc_id, substring(text, i, {n}) AS sh
      FROM d, LATERAL unnest(range(1, greatest(length(text) - {n - 2}, 1))) AS g(i)
    ),
    sig AS (SELECT doc_id, {', '.join(mh_cols)} FROM sh GROUP BY doc_id),
    banded AS (SELECT *, {', '.join(band_exprs)} FROM sig),
    pairs AS (SELECT DISTINCT a, b, est_jaccard FROM ({band_arms}))
    SELECT a, b, round(est_jaccard, 6) AS est_jaccard
    FROM pairs WHERE est_jaccard >= {threshold}"""


def simhash(
    docs: DataFrame, *, text_col: str = "text", n: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over the distinct shingle set:
    bit i is 1 iff the count of shingles with h32 bit i set exceeds half the
    shingle count (the +1/−1 majority vote)."""
    sh = shingles(docs, text_col=text_col, n=n, id_col=id_col)
    hx = sh.select(id_col, _h32(F.col("sh")).alias("_x"))
    x = F.col("_x")
    aggs = [
        F.sum(
            F.when(F.shiftright(x, i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = hx.groupBy(id_col).agg(*aggs)
    sim = sum(
        (F.when(F.col(f"s{i}") > 0, F.lit(2 ** i)).otherwise(0)
         for i in range(SIMHASH_BITS)),
        F.lit(0).cast("long"),
    )
    return sums.select(id_col, sim.cast("long").alias("simhash"))


def shingle_hashes_expr(text, *, n: int = 4):
    """array<long> of h32 over the distinct character-n-gram shingle set
    (the same substring walk as ``text.shingles``); NULL for text shorter
    than ``n`` (where the grouped operators emit no row at all).

    This is the expensive half of the per-row simhash — one md5 per
    shingle.  Materialize it with its OWN withColumn before feeding
    ``simhash_from_hashes``: Catalyst's subexpression elimination skips any
    subtree holding a LambdaVariable, so embedding this array inline in the
    33 vote expressions would recompute every md5 ~33×.  CollapseProject
    keeps a non-cheap multiply-referenced alias in its own projection, so
    the two-step form evaluates each md5 once.
    """
    t = F.col(text) if isinstance(text, str) else text
    shs = F.array_distinct(F.transform(
        # greatest guard: same DESCENDING-sequence trap as text.shingles
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
        lambda i: F.substring(t, i.cast("int"), n),
    ))
    return F.when(F.length(t) >= n, F.transform(shs, lambda s: _h32(s)))


def simhash_from_hashes(hxs):
    """32-bit SimHash from a ``shingle_hashes_expr`` array column — cheap
    integer vote-counting only (32 filter passes over the materialized
    array, no hashing); NULL in → NULL out."""
    hxs = F.col(hxs) if isinstance(hxs, str) else hxs
    n_sh = F.size(hxs)
    # bit i set iff set-bit count strictly beats the clear-bit count:
    # 2*count_set > n_shingles  ⟺  sum(+1/−1) > 0 in the grouped form
    def bit_votes(mask):
        # single-arg lambda: a 2-arg one would receive the ARRAY INDEX as
        # its second parameter, shadowing any captured loop variable
        return F.size(F.filter(
            hxs, lambda x: x.bitwiseAND(F.lit(mask)) != 0))

    sim = sum(
        (F.when(bit_votes(1 << i) * 2 > n_sh, F.lit(2 ** i)).otherwise(0)
         for i in range(SIMHASH_BITS)),
        F.lit(0).cast("long"),
    )
    return F.when(hxs.isNotNull(), sim.cast("long"))


def simhash_expr(text, *, n: int = 4):
    """Per-row 32-bit SimHash column — bit-identical to ``simhash`` (the
    grouped form) for any text of length >= ``n``; NULL below that.

    Map-side only: no explode, no shuffle, no state — which is what lets
    Structured Streaming dedup on the signature with nothing but the
    dropDuplicatesWithinWatermark key store (streaming/dedup.py).  This
    single-expression convenience recomputes the shingle md5s per vote —
    fine for tests/small batches; hot paths should materialize
    ``shingle_hashes_expr`` first (see its docstring) as
    ``stream_dedup_near`` does.
    """
    return simhash_from_hashes(shingle_hashes_expr(text, n=n))


def simhash_pairs(
    docs: DataFrame, *, text_col: str = "text", n: int = 4,
    max_hamming: int = 6, id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, hamming) — pairs within ``max_hamming`` bits, candidates from
    nibble-chunk banding: 8 chunks of 4 bits, so by pigeonhole any pair with
    hamming <= 7 shares at least one identical chunk — full recall for the
    default threshold; chunk width is the recall/cost dial."""
    if max_hamming > 7:
        raise ValueError(
            "max_hamming > 7 would silently lose recall under 8x4-bit "
            "banding (pigeonhole guarantee holds only to 7); use more/"
            "narrower bands for larger radii"
        )
    s = simhash(docs, text_col=text_col, n=n, id_col=id_col)
    # one exploded (band, key) table + a single composite-key equi shuffle
    # join, instead of 8 unioned self-joins re-scanning the signature table
    # 16x (same candidate set; VERDICT r1 perf note).  Total popcount is a
    # cheap necessary condition: hamming(a, b) >= |popcount(a) -
    # popcount(b)|, pruning most candidates JVM-side before the pair dedup.
    banded = s.select(
        id_col, "simhash", F.bit_count("simhash").alias("pc"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), 4 * c).bitwiseAND(15)
                for c in range(8)
            ])
        ).alias("band", "key"),
    )
    left = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("ha"),
        F.col("pc").alias("lpc"), "band", "key",
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("hb"),
        F.col("pc").alias("rpc"), "band", "key",
    )
    pairs = (
        left.join(right, ["band", "key"])
        .where(
            (F.col("a") < F.col("b"))
            & (F.abs(F.col("lpc") - F.col("rpc")) <= max_hamming)
        )
    )
    # hamming BEFORE the pair dedup: the popcount prune leaves ~50x more
    # candidates than survive the hamming cut, and hamming is identical for
    # every banded copy of a pair — filtering first shrinks the
    # dropDuplicates shuffle by that factor (measured 11 s -> 4.2 s at
    # sf0.1, identical output)
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "hamming")
    )


def simhash_oracle_sql(docs_sql: str, *, n: int = 4,
                       max_hamming: int = 6) -> str:
    sum_cols = ", ".join(
        f"sum(CASE WHEN ({h32_sql('sh')} >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    # per-chunk equi-joins unioned + DISTINCT — an OR of chunk equalities
    # plans as an O(n^2) nested-loop self-join in DuckDB (CLAUDE.md; same
    # fix minhash_oracle_sql already applies)
    chunk_arms = " UNION ALL ".join(
        f"""SELECT x.doc_id AS a, y.doc_id AS b,
             x.simhash AS sa, y.simhash AS sb
           FROM s x JOIN s y
             ON (x.simhash >> {4 * c}) & 15 = (y.simhash >> {4 * c}) & 15
           WHERE x.doc_id < y.doc_id"""
        for c in range(8)
    )
    return f"""
    WITH d AS ({docs_sql}),
    sh AS (
      SELECT DISTINCT doc_id, substring(text, i, {n}) AS sh
      FROM d, LATERAL unnest(range(1, greatest(length(text) - {n - 2}, 1))) AS g(i)
    ),
    sums AS (SELECT doc_id, {sum_cols} FROM sh GROUP BY doc_id),
    s AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM sums),
    pairs AS (
      SELECT DISTINCT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM ({chunk_arms})
    )
    SELECT a, b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def fingerprints(
    docs: DataFrame, *, text_col: str = "text", k: int = FP_K, w: int = FP_W,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pos, fp) — winnowing-style fingerprints: the k-gram rolling
    hash at position p is selected iff it is the minimum over the 2w−1
    window centred at p (local-minimum selection; same coverage guarantee
    dial as Schleimer et al.'s winnowing, symmetric for SQL portability)."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    grams = (
        # length >= k guard BEFORE the sequence: Spark sequence(1, m)
        # with m < 1 generates DESCENDING (CLAUDE.md round-1 lesson), so
        # an unguarded short/empty text would mint phantom fingerprints
        # at positions <= 0 (h32 of '' colliding across all short docs)
        # that the oracle's empty range() never emits
        docs.where(F.length(t) >= k).select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length(t) - (k - 1))).alias("pos"),
            t.alias("_t"),
        )
        .select(
            id_col, "pos",
            _h32(F.substring(F.col("_t"), F.col("pos").cast("int"), k)).alias("fp"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), w - 1)
    )
    return (
        grams.withColumn("_wmin", F.min("fp").over(win))
        .where(F.col("fp") == F.col("_wmin"))
        .select(id_col, "pos", "fp")
    )


def fingerprints_oracle_sql(docs_sql: str, *, k: int = FP_K,
                            w: int = FP_W) -> str:
    return f"""
    WITH d AS ({docs_sql}),
    grams AS (
      SELECT doc_id, i AS pos,
             {h32_sql(f'substring(text, i, {k})')} AS fp
      FROM d, LATERAL unnest(range(1, greatest(length(text) - {k - 2}, 1))) AS g(i)
    ),
    wmin AS (
      SELECT doc_id, pos, fp,
             min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN {w - 1} PRECEDING
                           AND {w - 1} FOLLOWING) AS m
      FROM grams
    )
    SELECT doc_id, CAST(pos AS INTEGER) AS pos, fp
    FROM wmin WHERE fp = m"""


def _block_labels(batches):
    """mapInPandas body of dedup_components: each Arrow batch of (src,
    dst) edges is one block, solved exactly in numpy — ids to dense
    indices (np.unique, so index order is id order), then rounds of root
    hooking (every root takes the min root across its edges,
    np.minimum.at) and pointer jumping (lbl <- lbl[lbl] until stable)
    until every edge joins one tree.  Emits (id, blbl): each node of the
    block with its block component's min id.  Vectorized over the batch;
    no per-row Python."""
    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        ids, inv = np.unique(
            np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
            return_inverse=True)
        s, d = inv[:n], inv[n:]
        lbl = np.arange(len(ids))
        while True:
            ls, ld = lbl[s], lbl[d]
            if np.array_equal(ls, ld):
                break
            lo = np.minimum(ls, ld)
            np.minimum.at(lbl, ls, lo)
            np.minimum.at(lbl, ld, lo)
            while True:
                jump = lbl[lbl]
                if np.array_equal(jump, lbl):
                    break
                lbl = jump
        yield pd.DataFrame({"id": ids, "blbl": ids[lbl]})


def dedup_components(
    docs: DataFrame, pairs: DataFrame, *, id_col: str = "doc_id",
    max_rounds: int = 50, keep_col: str | None = None,
) -> DataFrame:
    """(doc_id, component, n_members, is_keep) — resolve near-dup PAIRS into
    duplicate GROUPS: connected components over the pair graph, component =
    min doc_id reachable, keep exactly one doc per group.  The missing last
    stage of any dedup pipeline: LSH emits pairs, but a training run must
    drop all-but-one member per transitive cluster.

    Keep policy: by default the keeper is the component label (min id).
    ``keep_col`` names a numeric column of ``docs`` (higher = better, e.g.
    a quality score) and switches the keeper to the component's best-
    scoring member, ties and NULL scores falling back to min id (NULLs
    lose to any scored member) — what a training pipeline actually wants:
    keep the best copy, not the numerically-smallest id.  One extra
    per-component aggregate + broadcast-sized join over the tiny
    components table; the component labels themselves are unchanged.
    The catalog entry gates the default policy; keep_col is pytest-pinned.
    Keepers here are graph-level: a pair-only id (present in ``pairs``
    but absent from ``docs``) CAN be the keeper of its component.  The
    near-dedup composition (_near_dedup) filters rows down to one keeper
    per cluster by the same rule (_best_member), among rows members
    only when asked.

    NULLs: like the reference, which drops NULL rows (SURVEY §1.1), a
    docs row with a NULL id and a pair with a NULL endpoint are dropped
    before the graph is built — a pair with one NULL end names no edge,
    so its other end is a node only if docs or another pair name it.

    Algorithm: block-local solve and contraction (the two-phase local/
    global scheme of Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014).  Each round hash-partitions its edge table
    by ``src`` (AQE sizes the partitions) and solves every Arrow batch
    exactly in numpy (_block_labels), so a block holds at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` edges (65 536 in
    session_conf).  Each node's round label is the min of its block
    labels, one groupBy; a node whose block label is larger than that
    min links the two labels, and those links are the next round's
    edges over the contracted graph.  The loop ends when no node has two
    block labels (the round's one action) — then every edge lies inside
    one labelled block component, so labels are exact components, each
    labelled by its min id.  The rounds' label maps compose into the
    final labels by one left join per round.  Rounds measured (4 vCPUs,
    local[3]): a graph whose edges fit one block takes one round; a
    1.2M-pair random graph takes 5; forced into 64-edge blocks, a 1 000-
    and a 3 000-node path with shuffled ids take 5 and 7, a 20 000-node
    random graph 7.  Docs ids seed the graph as self-loops, so the first
    round labels every node with no separate node-set pass; a duplicate
    self-loop or pair cannot change a block's solve.  ``max_rounds`` is
    a loud-failure backstop only.

    The result is defined by the components, not the blocks or the round
    count: it is identical at any parallelism and block size, and the
    DuckDB oracle (components_oracle_sql) reaches it by a different route
    (UNION-terminating recursive CTE), which is what makes a
    convergence-driven driver loop oracle-able.
    """
    doc = F.col(id_col)
    edges = (
        pairs.where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(docs.where(doc.isNotNull())
                     .select(doc.alias("src"), doc.alias("dst")))
    )
    t = edges.schema["src"].dataType.simpleString()
    with _Scope(docs.sparkSession) as scope:

        def step(prev: DataFrame, k: int) -> DataFrame:
            # round k's edges: the input graph, then the links between a
            # node's larger block labels and its round label
            cur = prev if k == 1 else (
                prev.select(F.explode("_b").alias("src"),
                            F.col("lbl").alias("dst"))
                .where(F.col("src") != F.col("dst")))
            return (
                cur.repartition("src")
                .mapInPandas(_block_labels, f"id {t}, blbl {t}")
                .groupBy("id")
                .agg(F.min("blbl").alias("lbl"),
                     F.collect_set("blbl").alias("_b"))
            )

        def solved(new: DataFrame, _prev: DataFrame) -> bool:
            return new.where(F.size("_b") > 1).count() == 0

        trail: list = []
        _fixpoint(scope, step, edges, rounds=max_rounds, until=solved,
                  label="dedup_components", trail=trail)

        def compose(head: DataFrame, tail: DataFrame) -> DataFrame:
            nxt = tail.select(F.col("id").alias("lbl"),
                              F.col("lbl").alias("_n"))
            return head.join(nxt, "lbl", "left").select(
                "id", F.coalesce("_n", "lbl").alias("lbl"))

        labels = trail.pop().select("id", "lbl")
        while trail:
            labels = compose(trail.pop().select("id", "lbl"), labels)
        members = labels.select(F.col("id").alias(id_col),
                                F.col("lbl").alias("component"))
        out = members.join(
            members.groupBy("component").agg(F.count("*").alias("n_members")),
            "component")
        keep = F.col(id_col) == F.col("component")
        if keep_col is not None:
            # a LEFT join inside _best_member keeps the output row set
            # identical to the default policy: pair-only nodes (no docs
            # row) stay — scoreless, so they can only win an all-
            # scoreless component by min id
            out = out.join(
                _best_member(members, docs, id_col, keep_col), "component")
            keep = F.col(id_col) == F.col("_bid")
        # localCheckpoint is executor-local (not fault-tolerant storage) —
        # on a real cluster an executor loss fails the job rather than
        # recomputing; acceptable for a deterministic batch op, and the
        # output is one small row per doc.
        rows = scope.cut(out.select(id_col, "component", "n_members",
                                    keep.alias("is_keep")))
        scope.keep(rows)
    return rows


def reach_ctes(nodes_cte: str, edges_cte: str) -> str:
    """The UNION-terminating reach recursion kernel — the ONE builder for
    every oracle that mirrors connected components (CLAUDE.md:
    shared oracle fragments must not be hand-inlined per entry).
    ``nodes_cte`` must yield (id), ``edges_cte`` (src, dst) with both
    directions present.  Propagates (node, seen-label) pairs until no new
    pair appears; labels >= the receiving node are pruned (dominated by
    the node's own base row); min(lbl) per node is then exactly the
    component minimum — the same labels dedup_components' block solve
    reaches.  Emits the ``reach`` recursive CTE body; callers place
    it inside a WITH RECURSIVE list and aggregate min(lbl) themselves."""
    return f"""reach(id, lbl) AS (
      SELECT id, id FROM {nodes_cte}
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN {edges_cte} e ON e.src = r.id
      WHERE r.lbl < e.dst
    )"""


def components_oracle_sql(docs_sql: str, pairs_sql: str) -> str:
    """DuckDB mirror of dedup_components, fixpoint-equivalent rather than
    round-for-round: a UNION (distinct) recursive CTE propagates (node,
    seen-label) pairs along edges and terminates when no NEW pair appears;
    min(lbl) per node is then exactly the component minimum — the same
    labels dedup_components' block solve reaches.  Labels >= the
    receiving node id are pruned (dominated by the node's own base row),
    bounding the accumulated pair set.  NULL doc ids and pairs with a
    NULL end are dropped, as in dedup_components.  ``pairs_sql`` and the
    edge list are AS MATERIALIZED — the recursive term re-runs any plain
    CTE it references on EVERY round (CLAUDE.md round-3 lesson)."""
    return f"""
    WITH RECURSIVE d AS MATERIALIZED ({docs_sql}),
    prs AS MATERIALIZED (
      SELECT * FROM ({pairs_sql}) WHERE a IS NOT NULL AND b IS NOT NULL),
    nodes AS MATERIALIZED (
      SELECT DISTINCT doc_id AS id FROM d WHERE doc_id IS NOT NULL
      UNION SELECT a FROM prs UNION SELECT b FROM prs),
    edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM prs
      UNION ALL SELECT b, a FROM prs
    ),
    {reach_ctes("nodes", "edges")},
    fin AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, count(*) AS n_members
              FROM fin GROUP BY component)
    SELECT f.id AS doc_id, f.component, s.n_members,
           f.id = f.component AS is_keep
    FROM fin f JOIN sizes s ON f.component = s.component"""
