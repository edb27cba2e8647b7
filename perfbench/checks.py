"""Correctness checks made apart from Spark.

Every operation's collected output is compared with an answer computed
without the engine:

* DuckDB runs the package's own oracle SQL over the same parquet inputs
  (``hotspot_oracle_sql``, ``pagerank_oracle_sql``,
  ``components_oracle_sql``,
  ``kmeans_lloyd_oracle_sql``, ``ivf_oracle_sql``, ``getis_sim_oracle_sql``);
* numpy computes the brute-force kNN (distance, then neighbour id), the
  closed-form Gi* ``gs`` from those edges, and an exact-Lloyd replica of
  the vector centroids;
* union-find computes the connected components of the blob pair graph;
* permutation p-values must have the form k/(perms+1), k in 1..perms//2+1;
* the resumed pipeline must equal the fused one row for row.

Answers are cached under ``<work>/oracle_cache`` keyed by the workload,
scale, seed, input shape and the oracle's text (SQL, or the source of the
numpy function), so a rerun with the same seed does not recompute them;
``--fresh-oracles`` recomputes.  Oracle time is spent after the timed
rounds and counts in no metric.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

import duckdb
import numpy as np
import pandas as pd

from crankshaft_spark.operators.ann import ivf_oracle_sql
from crankshaft_spark.operators.dedup import components_oracle_sql
from crankshaft_spark.operators.getis import (
    crand_draw_ctes, getis_sim_oracle_sql)
from crankshaft_spark.operators.graph import (
    host_links_sql, pagerank_oracle_sql)
from crankshaft_spark.operators.kmeans import kmeans_lloyd_oracle_sql
from crankshaft_spark.plans.pipeline import hotspot_oracle_sql
from crankshaft_spark.sources.derived import CUSTOMER_POINTS_SQL
from crankshaft_spark.sources.webpages import WEBPAGES_SQL

import workloads as W

#: float outputs are rounded to 6 dp by the package; two engines may round
#: a value on either side of a 6th-decimal boundary
TOL = 2e-6
#: sample of ids the Gi* permutation oracle is compared on
GETIS_SAMPLE = 50
#: IVF probe for the ivf_oracle_sql check of the Lloyd centroids
IVF_K, IVF_PROBE = 10, 3


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
               what: str, tol_cols=()) -> None:
    cols = list(want.columns)
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    _require(len(g) == len(w), f"{what}: {len(g)} rows, oracle {len(w)}")
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if c in tol_cols:
            ok = np.allclose(a.astype(float), b.astype(float), rtol=0,
                             atol=TOL, equal_nan=True)
        else:
            ok = bool((a == b).all())
        _require(ok, f"{what}: column {c} differs from the oracle")


def _p_sim_ok(p: np.ndarray, perms: int, what: str) -> None:
    k = p * (perms + 1)
    _require(bool((np.abs(k - np.round(k)) < 1e-6).all()),
             f"{what}: p_sim not a multiple of 1/(perms+1)")
    k = np.round(k)
    _require(bool(((k >= 1) & (k <= perms // 2 + 1)).all()),
             f"{what}: p_sim count outside 1..perms//2+1")


def union_find(nodes: np.ndarray, pairs: np.ndarray) -> dict:
    """{node: min node id of its connected component}."""
    parent = {int(v): int(v) for v in nodes}
    for a, b in pairs:
        parent.setdefault(int(a), int(a))
        parent.setdefault(int(b), int(b))

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _components_ok(got: pd.DataFrame, comp: dict, what: str) -> None:
    _require(len(got) == len(comp), f"{what}: {len(got)} nodes, "
             f"union-find {len(comp)}")
    want = got["doc_id"].map(comp)
    _require(bool((got["component"] == want).all()),
             f"{what}: component labels differ from union-find")
    sizes = got.groupby("component")["doc_id"].transform("count")
    _require(bool((got["n_members"] == sizes).all()),
             f"{what}: n_members differs from the component size")
    _require(bool((got["is_keep"] == (got["doc_id"] == got["component"])
                   ).all()), f"{what}: is_keep is not the component minimum")


# --------------------------------------------------------------- numpy ---

def points_np(sf_dir: str) -> pd.DataFrame:
    """customer -> (id, x, y, value), the closed-form derivation."""
    c = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"))
    k = c["c_custkey"].to_numpy(np.int64)
    return pd.DataFrame({
        "id": k,
        "x": -120.0 + ((k * 9973) % 24000).astype(float) / 100.0,
        "y": -48.0 + ((k * 7919) % 9600).astype(float) / 100.0,
        "value": c["c_acctbal"].to_numpy(float)})


def knn_np(pts: pd.DataFrame, k: int = W.KNN_K) -> pd.DataFrame:
    """Brute-force kNN: every pair's squared distance, ordered by
    (d2, neighbour id), self excluded."""
    ids = pts["id"].to_numpy()
    x, y = pts["x"].to_numpy(), pts["y"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids, x, y = ids[order], x[order], y[order]
    rows = []
    for s in range(0, len(ids), 256):
        dx = x[s:s + 256, None] - x[None, :]
        dy = y[s:s + 256, None] - y[None, :]
        d2 = dx * dx + dy * dy
        d2[np.arange(d2.shape[0]), np.arange(s, s + d2.shape[0])] = np.inf
        # ids are sorted, so a stable sort on d2 breaks ties by id
        nn = np.argsort(d2, axis=1, kind="stable")[:, :k]
        for i in range(d2.shape[0]):
            for j in nn[i]:
                rows.append((ids[s + i], ids[j]))
    e = pd.DataFrame(rows, columns=["id", "nbr"])
    e["w"] = 1.0 / e.groupby("id")["nbr"].transform("count")
    return e


def gstar_np(pts: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    """Closed-form Gi* gs = (sum of neighbour y + y_i)/((deg+1)*sum y)."""
    y = pts.set_index("id")["value"]
    e = edges.assign(_y=edges["nbr"].map(y))
    agg = e.groupby("id").agg(deg=("nbr", "count"), nbrsum=("_y", "sum"))
    gs = (agg["nbrsum"] + y.loc[agg.index]) / ((agg["deg"] + 1) * y.sum())
    return pd.DataFrame({"id": agg.index.to_numpy(), "gs": gs.to_numpy()})


def lloyd_vec_np(sf_dir: str) -> pd.DataFrame:
    """Exact-Lloyd replica of lloyd_vec_centroids: the n_lists lowest-id
    vectors as seeds, argmin by (d2 rounded to 9 dp, list index), means
    rounded to 6 dp, empty lists keep their centroid."""
    t = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    t = t.sort_values("vec_id")
    v = np.stack(t["embedding"].to_numpy()).astype(np.float32).astype(float)
    c = v[:W.IVF_LISTS].copy()
    for _ in range(W.IVF_ITERS):
        d2 = np.round(((v[:, None, :] - c[None, :, :]) ** 2).sum(2), 9)
        a = np.argmin(d2, axis=1)
        for j in range(len(c)):
            if (a == j).any():
                c[j] = np.round(v[a == j].mean(0), 6)
    return pd.DataFrame({"list_id": range(len(c)), "centroid": list(c)})


def ivf_topk_np(sf_dir: str, centroids: list) -> pd.DataFrame:
    """IVF search from given centroids, as ``ann_topk_ivf`` defines it."""
    t = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t["vec_id"].to_numpy()
    v = np.stack(t["embedding"].to_numpy()).astype(np.float32).astype(float)
    c = np.array(centroids, dtype=float)
    pv = _ivf_probe(v.shape[1])
    a = np.argmin(np.round(((v[:, None, :] - c[None]) ** 2).sum(2), 9), 1)
    lists = np.argsort(np.round(((c - pv) ** 2).sum(1), 9),
                       kind="stable")[:IVF_PROBE]
    m = np.isin(a, lists)
    cos = (v[m] @ pv) / (np.sqrt((v[m] ** 2).sum(1)) * np.sqrt(pv @ pv))
    out = pd.DataFrame({"vec_id": ids[m], "cos": cos})
    out = out.sort_values(["cos", "vec_id"], ascending=[False, True])
    out = out.head(IVF_K).reset_index(drop=True)
    out["rank"] = np.arange(1, len(out) + 1, dtype=np.int32)
    return out[["vec_id", "rank"]]


def _ivf_probe(dims: int) -> np.ndarray:
    return np.array([((j * 7) % 11 - 5) / 10.0 for j in range(dims)])


# -------------------------------------------------------------- oracle ---

class Oracle:
    """Expected answers for one workload's inputs, cached on disk."""

    def __init__(self, workload: str, scale: str, seed: int, sf_dir: str,
                 aux: dict, cache_dir: str, fresh: bool = False):
        self.workload, self.sf_dir, self.aux = workload, sf_dir, aux
        self.key_base = [workload, scale, seed, aux["shape"]]
        self.cache_dir, self.fresh = cache_dir, fresh
        self._con = None
        self.answers: dict[str, pd.DataFrame] = {}

    # -- plumbing
    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            for name in ("documents", "customer", "embeddings"):
                p = os.path.join(self.sf_dir, f"{name}.parquet")
                if os.path.exists(p):
                    self._con.execute(
                        f"CREATE VIEW {name}_raw AS SELECT * FROM "
                        f"read_parquet('{p}')")
        return self._con

    def close(self):
        if self._con is not None:
            self._con.close()

    def cached(self, name: str, text: str, compute) -> pd.DataFrame:
        key = hashlib.sha256(json.dumps(
            self.key_base + [name, text], default=str).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key[:32]}.parquet")
        if os.path.exists(path) and not self.fresh:
            return pd.read_parquet(path)
        df = compute()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def sql(self, name: str, text: str) -> pd.DataFrame:
        return self.cached(name, text,
                           lambda: self.con().execute(text).df())

    def numpy(self, name: str, fn, *args) -> pd.DataFrame:
        return self.cached(name, inspect.getsource(fn), lambda: fn(*args))

    # -- per workload
    def check(self, unit: str, out: pd.DataFrame, round_outs: dict) -> None:
        getattr(self, "check_" + unit.replace(".", "_"))(out, round_outs)

    # hotspot
    def _hotspot(self) -> pd.DataFrame:
        mult = self.aux["shape"]["multiplier"]
        self.con().execute(f"""CREATE OR REPLACE VIEW documents AS
            SELECT doc_id + s.span * r.rep AS doc_id, text, lang
            FROM documents_raw,
                 (SELECT max(doc_id) + 1 AS span FROM documents_raw) s,
                 range({mult}) r(rep)""")
        return self.sql("hotspot", hotspot_oracle_sql())

    def _hotspot_ok(self, out, what):
        want = self._hotspot()
        _same_rows(out, want, ["cell"], what,
                   tol_cols=("avg_quality", "z_score"))

    def check_pipeline_fused(self, out, _):
        self._hotspot_ok(out, "pipeline.fused")

    def check_checkpoint_write(self, out, _):
        self._hotspot_ok(out, "checkpoint.write")

    def check_checkpoint_resume(self, out, round_outs):
        fused = round_outs["pipeline.fused"]
        cols = list(fused.columns)
        a = out[cols].sort_values("cell").reset_index(drop=True)
        b = fused.sort_values("cell").reset_index(drop=True)
        _require(a.equals(b), "checkpoint.resume differs from the fused run")

    # sims
    def _points(self):
        return self.numpy("points", points_np, self.sf_dir)

    def _knn(self):
        return self.numpy("knn", knn_np, self._points())

    def _closed(self):
        return self.numpy("closed_form", gstar_np, self._points(),
                          self._knn())

    def check_knn_edges(self, out, _):
        _same_rows(out, self._knn(), ["id", "nbr"], "knn.edges",
                   tol_cols=("w",))

    def check_getis_sim(self, out, _):
        want = self._closed()
        _same_rows(out[["id", "gs"]], want, ["id"],
                   "getis.sim gs", tol_cols=("gs",))
        _p_sim_ok(out["p_sim"].to_numpy(), W.PERMS, "getis.sim")
        vals = CUSTOMER_POINTS_SQL.replace("FROM customer",
                                           "FROM customer_raw")
        knn = f"""WITH pts AS ({vals}),
        knn AS (
          SELECT id, nbr FROM (
            SELECT a.id, b.id AS nbr,
                   (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
            FROM pts a JOIN pts b ON a.id <> b.id)
          QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, nbr)
                  <= {W.KNN_K})"""
        # replay the draws for a sample of ids only: the package's draw
        # builder is asked for the sampled id set and swapped into the
        # oracle text (z_sim pools every row's draws, so it is not compared)
        ids = np.sort(self._points()["id"].to_numpy())
        sample = ids[np.linspace(0, len(ids) - 1, GETIS_SAMPLE).astype(int)]
        kw = dict(seed=W.SIM_SEED, permutations=W.PERMS, pool_size=None)
        text = getis_sim_oracle_sql("SELECT id, value AS y FROM pts", knn,
                                    **kw)
        draw_all = crand_draw_ctes("gsim", **kw)
        _require(draw_all in text, "getis.sim oracle: draw CTE not found")
        text = text.replace(draw_all, crand_draw_ctes(
            "gsim", ids_sql="SELECT id FROM yv WHERE id IN ("
            + ", ".join(str(int(i)) for i in np.unique(sample)) + ")", **kw))
        want = self.sql("getis_sim", text)
        got = out[out["id"].isin(sample)]
        _same_rows(got, want[["id", "gs", "p_sim"]], ["id"],
                   "getis.sim oracle", tol_cols=("gs", "p_sim"))

    # loops
    def _docs_view(self):
        self.con().execute("CREATE OR REPLACE VIEW documents AS "
                           "SELECT doc_id, text, lang FROM documents_raw")

    def _links_sql(self):
        self._docs_view()
        return host_links_sql(f"SELECT page_id, host_id FROM ({WEBPAGES_SQL})")

    def check_graph_pagerank(self, out, _):
        want = self.sql("pagerank", pagerank_oracle_sql(
            self._links_sql(), iters=W.GRAPH_ITERS))
        _same_rows(out, want, ["host"], "graph.pagerank")

    def check_dedup_components_dense(self, out, _):
        bp = self.aux["blob_pairs"]
        _components_ok(out, union_find(np.unique(bp), bp),
                       "dedup.components_dense")
        self.con().register("blob_pairs", pd.DataFrame(bp, columns=["a", "b"]))
        want = self.sql("components_dense", components_oracle_sql(
            "SELECT a AS doc_id FROM blob_pairs UNION "
            "SELECT b FROM blob_pairs", "SELECT a, b FROM blob_pairs"))
        _same_rows(out, want, ["doc_id"], "dedup.components_dense")

    def check_kmeans_lloyd(self, out, _):
        pts = ("SELECT c_custkey AS id, "
               "CAST((c_custkey * 9973) % 24000 AS DOUBLE) AS x, "
               "CAST((c_custkey * 7919) % 9600 AS DOUBLE) AS y "
               "FROM customer_raw")
        want = self.sql("kmeans", kmeans_lloyd_oracle_sql(
            pts, k=W.KM_K, iters=W.KM_ITERS))
        _same_rows(out, want, ["id"], "kmeans.lloyd")

    def check_ann_lloyd_vec(self, out, _):
        want = self.numpy("lloyd_vec", lloyd_vec_np, self.sf_dir)
        got = np.stack(out["centroid"].to_numpy())
        _require(bool(np.allclose(got, np.stack(want["centroid"].to_numpy()),
                                  rtol=0, atol=TOL)),
                 "ann.lloyd_vec centroids differ from the numpy Lloyd")
        dims = got.shape[1]
        probe = ", ".join(f"({j}, {v!r})"
                          for j, v in enumerate(_ivf_probe(dims)))
        text = ivf_oracle_sql(
            "embeddings_raw",
            f"SELECT CAST(j AS INT) AS j, CAST(pv AS DOUBLE) AS pv "
            f"FROM (VALUES {probe}) t(j, pv)",
            k=IVF_K, n_lists=W.IVF_LISTS, n_probe=IVF_PROBE,
            iters=W.IVF_ITERS)
        want_topk = self.sql("ivf", text)[["vec_id", "rank"]]
        got_topk = ivf_topk_np(self.sf_dir, list(got))
        _same_rows(got_topk, want_topk, ["rank"], "ann.lloyd_vec ivf top-k")
