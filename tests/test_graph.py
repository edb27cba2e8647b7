"""Host-graph PageRank: Python fixed-point replay, dangling-mass policy,
parallelism invariance, and the host_links no-dangling guarantee; the
loop operators' checkpoint release over a long session and on error."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from crankshaft_spark.operators.graph import (
    HOST_LINKS_L, host_links, pagerank_fp)

EDGES = [(0, 1, 2), (1, 2, 1), (2, 0, 1), (2, 3, 3), (3, 0, 1),
         (5, 0, 4), (1, 4, 1)]  # node 4 is dangling


def _py_pagerank(edges, iters, q=10 ** 12):
    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    n = len(nodes)
    out = {}
    for a, _, w in edges:
        out[a] = out.get(a, 0) + w
    r = {h: q // n for h in nodes}
    base = (15 * (q // n)) // 100
    for _ in range(iters):
        s = {h: 0 for h in nodes}
        for a, b, w in edges:
            s[b] += (r[a] * w) // out[a]
        r = {h: base + (85 * s[h]) // 100 for h in nodes}
    return r


def test_pagerank_matches_python_replay(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    got = {r["host"]: r["rank_fp"] for r in pagerank_fp(df, iters=5).collect()}
    assert got == _py_pagerank(EDGES, 5)
    # in-link-heavy node 0 outranks everything; the dangling node keeps
    # only what flows in (its mass leaks, per the documented policy)
    assert got[0] == max(got.values())


def test_pagerank_zero_iters_is_uniform(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    got = {r["host"]: r["rank_fp"] for r in pagerank_fp(df, iters=0).collect()}
    assert set(got.values()) == {10 ** 12 // 6}


def test_pagerank_parallelism_invariance(spark):
    edges = [((i * 13) % 37, (i * 29 + 7) % 37, 1 + i % 3)
             for i in range(300)]
    edges = [e for e in edges if e[0] != e[1]]
    a = pagerank_fp(
        spark.createDataFrame(edges, "src long, dst long, w long")
        .repartition(1), iters=4)
    b = pagerank_fp(
        spark.createDataFrame(edges, "src long, dst long, w long")
        .repartition(16), iters=4)
    ra = {r["host"]: r["rank_fp"] for r in a.collect()}
    rb = {r["host"]: r["rank_fp"] for r in b.collect()}
    assert ra == rb  # BIGINT sums commute — bit-identical at any layout


def test_host_links_never_dangling_and_no_self_loops(spark):
    pages = spark.createDataFrame(
        [(i, (i * 7) % 64) for i in range(500)], "page_id long, host_id long")
    links = host_links(pages)
    rows = links.collect()
    assert all(r["src"] != r["dst"] for r in rows)
    # every host with >= 1 page has out-degree >= 1 and exactly L links/page
    out = links.groupBy("src").agg(F.sum("w").alias("o")).collect()
    per_host_pages = {h: 0 for h in range(64)}
    for i in range(500):
        per_host_pages[(i * 7) % 64] += 1
    got = {r["src"]: r["o"] for r in out}
    for h, c in per_host_pages.items():
        if c:
            assert got[h] == HOST_LINKS_L * c


def test_hits_matches_python_replay(spark):
    from crankshaft_spark.operators.graph import hits_fp

    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    got = {r["host"]: (r["auth_fp"], r["hub_fp"])
           for r in hits_fp(df, iters=5).collect()}
    S = 10 ** 6
    nodes = sorted({a for a, _, _ in EDGES} | {b for _, b, _ in EDGES})
    auth = {h: S for h in nodes}
    hub = {h: S for h in nodes}
    for _ in range(5):
        a = {h: 0 for h in nodes}
        for s_, d, w in EDGES:
            a[d] += hub[s_] * w
        mx = max(a.values())
        if mx > 0:
            a = {h: (v * S) // mx for h, v in a.items()}
        h2 = {h: 0 for h in nodes}
        for s_, d, w in EDGES:
            h2[s_] += a[d] * w
        mx = max(h2.values())
        if mx > 0:
            h2 = {h: (v * S) // mx for h, v in h2.items()}
        auth, hub = a, h2
    assert got == {h: (auth[h], hub[h]) for h in nodes}
    # conventions: node 5 (source-only) has authority 0; node 4
    # (sink-only) has hub 0; max-normalized tops hit exactly S
    assert got[5][0] == 0 and got[4][1] == 0
    assert max(v[0] for v in got.values()) == S
    assert max(v[1] for v in got.values()) == S


def test_hits_parallelism_invariance(spark):
    from crankshaft_spark.operators.graph import hits_fp

    edges = [((i * 13) % 37, (i * 29 + 7) % 37, 1 + i % 3)
             for i in range(300)]
    edges = [e for e in edges if e[0] != e[1]]
    a = hits_fp(
        spark.createDataFrame(edges, "src long, dst long, w long")
        .repartition(1), iters=3)
    b = hits_fp(
        spark.createDataFrame(edges, "src long, dst long, w long")
        .repartition(16), iters=3)
    ra = {r["host"]: (r["auth_fp"], r["hub_fp"]) for r in a.collect()}
    rb = {r["host"]: (r["auth_fp"], r["hub_fp"]) for r in b.collect()}
    assert ra == rb


def test_personalized_pagerank_replay(spark):
    from crankshaft_spark.operators.graph import pagerank_fp

    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (5,)], "host long")
    got = {r["host"]: r["rank_fp"]
           for r in pagerank_fp(df, iters=4, seeds=seeds).collect()}

    q = 10 ** 12
    nodes = sorted({a for a, _, _ in EDGES} | {b for _, b, _ in EDGES})
    out = {}
    for a, _, w in EDGES:
        out[a] = out.get(a, 0) + w
    tele = {0, 5}
    n = len(tele)
    r = {h: (q // n if h in tele else 0) for h in nodes}
    base = {h: ((15 * (q // n)) // 100 if h in tele else 0) for h in nodes}
    for _ in range(4):
        s = {h: 0 for h in nodes}
        for a, b, w in EDGES:
            s[b] += (r[a] // out[a]) * w + ((r[a] % out[a]) * w) // out[a]
        r = {h: base[h] + (85 * s[h]) // 100 for h in nodes}
    assert got == r
    # teleport-restricted: mass concentrates at/near the seeds; a node
    # unreachable from the seed set and outside it holds rank 0
    assert got[0] > 0 and got[5] == base[5]  # 5 has no in-links


def test_pagerank_default_unchanged_by_seeds_param(spark):
    from crankshaft_spark.operators.graph import pagerank_fp

    df = spark.createDataFrame(EDGES, "src long, dst long, w long")
    a = {r["host"]: r["rank_fp"] for r in pagerank_fp(df, iters=3).collect()}
    all_seeds = spark.createDataFrame(
        [(h,) for h in sorted({x for e in EDGES for x in e[:2]})],
        "host long")
    b = {r["host"]: r["rank_fp"]
         for r in pagerank_fp(df, iters=3, seeds=all_seeds).collect()}
    assert a == b  # seeding with ALL nodes is the classic form


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _jobs_started(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _leaf_rdd_ids(df):
    """Ids of the checkpoint RDDs the DataFrame's plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"}


def test_loop_operators_soak(spark):
    """Five calls of each loop operator, and of each operator built on
    dedup_components, in one session: every call leaves exactly its
    output's own checkpoints persisted (released here before the next
    call), and the job count per call stays flat.  AQE submits query
    stages as jobs of their own, how many depends on stage timing, so
    a count can move within a band of 3 on unchanged code; growth beyond
    that band fails."""
    from crankshaft_spark.operators._fixpoint import _release_rdds
    from crankshaft_spark.operators.ann import embedding_near_dedup
    from crankshaft_spark.operators.dbscan import dbscan
    from crankshaft_spark.operators.dedup import dedup_components, near_dedup
    from crankshaft_spark.operators.graph import hits_fp
    from crankshaft_spark.operators.multimodal import (
        audio_near_dedup, media_near_dedup, synth_media)

    edges = spark.createDataFrame(EDGES, "src long, dst long, w long")
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 39) if i % 10 != 9], "a long, b long")
    texts = spark.createDataFrame(
        [(i, f"near duplicate document number {i // 2} for the soak")
         for i in range(12)], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [1.0 + (i % 3) * 1e-4, float(i // 3), 0.5, -0.25])
         for i in range(12)], "vec_id long, embedding array<double>")
    media = synth_media(spark, n=24, seed=42)
    pts = spark.createDataFrame(
        [(i, float(i % 4), float(i // 4 * 3)) for i in range(16)],
        "id long, x double, y double")
    calls = {
        "dedup_components": (lambda: dedup_components(docs, pairs), 1),
        "pagerank_fp": (lambda: pagerank_fp(edges, iters=3), 1),
        "hits_fp": (lambda: hits_fp(edges, iters=3), 3),
        "near_dedup": (lambda: near_dedup(texts, threshold=0.9), 1),
        "embedding_near_dedup": (lambda: embedding_near_dedup(
            emb, dims=4, n_planes=4, threshold=0.999), 1),
        "media_near_dedup": (lambda: media_near_dedup(media), 1),
        "audio_near_dedup": (lambda: audio_near_dedup(media), 1),
        "dbscan": (lambda: dbscan(pts, eps=1.0, min_pts=3), 1),
    }
    # the near-dedup outputs also read their input frames
    inputs = set().union(*map(_leaf_rdd_ids, (
        edges, docs, pairs, texts, emb, media, pts)))
    for name, (call, n_held) in calls.items():
        jobs = []
        for _ in range(5):
            before, j0 = _persistent(spark), _jobs_started(spark)
            out = call()
            assert out.collect()
            jobs.append(_jobs_started(spark) - j0)
            held = _persistent(spark) - before
            assert held == _leaf_rdd_ids(out) - inputs, name
            assert len(held) == n_held, name
            _release_rdds(spark.sparkContext, held)
        assert abs(jobs[-1] - jobs[1]) <= 3, (name, jobs)


def test_pagerank_seed_guard_leaves_no_checkpoint(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long, w long")
    before = _persistent(spark)
    with pytest.raises(ValueError, match="seeds do not intersect"):
        pagerank_fp(edges, iters=3,
                    seeds=spark.createDataFrame([(99,)], "host long"))
    assert _persistent(spark) <= before


@pytest.mark.parametrize("op, bad_w", [
    ("pagerank_fp", 0), ("pagerank_fp", -2), ("hits_fp", -1),
])
def test_loop_operators_reject_bad_weights(spark, op, bad_w):
    """pagerank_fp needs w > 0 (source 6's weights would sum to 0 and
    divide by zero), hits_fp needs w >= 0; the error names the operator
    and the failed edge-table checkpoint is released."""
    from crankshaft_spark.operators import graph

    edges = spark.createDataFrame(
        EDGES + [(6, 4, bad_w)], "src long, dst long, w long")
    before = _persistent(spark)
    with pytest.raises(SparkRuntimeException, match=f"{op}: edge weights"):
        getattr(graph, op)(edges, iters=2)
    assert _persistent(spark) <= before
