"""The workloads: what one round calls in the package.

A workload is prepared once per set-up (its input checkpoint) and then runs
whole rounds.  A round is a fixed list of operations; each operation is one
call into a public function of ``crankshaft_spark`` whose result is pulled
to the driver, and is named after the layer it enters (``knn.edges``,
``graph.pagerank`` ...).  The collected results go to ``checks.py``.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from crankshaft_spark.operators.ann import lloyd_vec_centroids
from crankshaft_spark.operators.dedup import dedup_components
from crankshaft_spark.operators.getis import getis_gstar_sim
from crankshaft_spark.operators.graph import host_links, pagerank_fp
from crankshaft_spark.operators.kmeans import kmeans_lloyd
from crankshaft_spark.operators.knn import knn_edges
from crankshaft_spark.operators.weights import row_standardize
from crankshaft_spark.plans.checkpoint import StageRunner
from crankshaft_spark.plans.pipeline import hotspot_pipeline
from crankshaft_spark.sources.derived import customer_points, load_table
from crankshaft_spark.sources.webpages import synth_webpages

#: kNN / permutation-sim parameters (the catalog's kNN settings, 99 sims)
KNN_K = 5
KNN_CELL = 6.0
PERMS = 99
SIM_SEED = 1234
#: iterative-operator parameters (the catalog's settings)
GRAPH_ITERS = 5
KM_K, KM_ITERS = 8, 4
IVF_LISTS, IVF_ITERS = 8, 3


class Workload:
    """Base: ``prepare`` builds the input checkpoint, ``ops`` lists the
    round's operations, ``end_round`` drops what a round cached."""

    units: tuple[str, ...] = ()
    #: timed rounds a run makes at least, whatever --seconds is
    min_timed_rounds = 1

    def __init__(self, spark, sf_dir: str, work_dir: str, aux: dict):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.aux = aux
        self.cached: list = []
        self.input_rows = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def ops(self):
        raise NotImplementedError

    def _pin(self, df):
        df = df.persist()
        self.cached.append(df)
        return df

    def trace_extras(self, probe) -> dict:
        """Per-layer metrics a traced round adds beyond its units."""
        return {}

    def end_round(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def release_inputs(self) -> None:
        self.end_round()
        for df in getattr(self, "inputs", []):
            df.unpersist()


def _rows(df) -> pd.DataFrame:
    return df.toPandas()


def _materialize(df) -> None:
    """Compute every column of every row with a one-row result (a count
    would let Catalyst prune columns out of the plan)."""
    df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class _PrefixRunner(StageRunner):
    """A StageRunner that keeps each stage's lazy DataFrame."""

    def __init__(self, spark):
        super().__init__(spark, None)
        self.prefix = {}

    def stage(self, name, fn, token=""):
        self.prefix[name] = fn()
        return self.prefix[name]


class Hotspot(Workload):
    """Flagship crawl-table -> Gi* hotspot pipeline, fused in memory, then
    written stage by stage with its lineage manifest, then resumed."""

    units = ("pipeline.fused", "checkpoint.write", "checkpoint.resume")

    def prepare(self):
        mult = self.aux["shape"]["multiplier"]
        pages = synth_webpages(self.spark, self.sf_dir, multiplier=mult)
        pages = pages.persist()
        self.input_rows = pages.count()
        self.inputs = [pages]
        self.pages = pages
        self.token = f"seeded:{mult}"
        self.stage_dir = os.path.join(self.work_dir, "stages")

    def pipeline(self, runner=None):
        return hotspot_pipeline(self.spark, self.sf_dir, runner=runner,
                                pages=self.pages, pages_token=self.token)

    def ops(self):
        def fused():
            return _rows(self.pipeline())

        def write():
            shutil.rmtree(self.stage_dir, ignore_errors=True)
            out = _rows(self.pipeline(StageRunner(self.spark,
                                                  self.stage_dir)))
            self.written = _dir_bytes(self.stage_dir)
            return out

        def resume():
            runner = StageRunner(self.spark, self.stage_dir)
            out = _rows(self.pipeline(runner))
            if not all(m["resumed"] for m in runner.metrics.values()):
                raise RuntimeError("resume recomputed a stage")
            return out

        return [("pipeline.fused", fused), ("checkpoint.write", write),
                ("checkpoint.resume", resume)]

    def trace_extras(self, probe):
        """Stage costs by prefix materialization: each prefix of the fused
        pipeline is materialized on its own and a stage's cost is the
        difference between successive prefixes."""
        runner = _PrefixRunner(self.spark)
        self.pipeline(runner)
        out = {"checkpoint.written_mb": self.written / 2**20}
        prev = 0.0
        for name in ("features", "pip", "cellagg", "gistar"):
            t = time.perf_counter()
            _materialize(runner.prefix[name])
            cost = time.perf_counter() - t
            out[f"pipeline.{name}_s"] = cost - prev
            prev = cost
        return out


class SimsLoops(Workload):
    """The permutation sims, then the iterative loops, in one session.

    Sims: kNN weights, then Gi* permutation inference.  Local Moran's twin
    (``moran_local_hash_sim``, same draw kernel and Python crossing) is
    left out to keep a run inside the time budget.

    Loops: fixed-point PageRank, connected components of the dense blob
    pair graph, and two exact-Lloyd kernels.  ``hits_fp`` and MinHash/LSH
    with the components of its sparse pair graph are left out for the same
    reason (README, "What was left out").

    Two timed rounds: a single round read 27% run-to-run spread (IQR over
    median, ten seeds) on a host with CPU steal."""

    units = ("knn.edges", "getis.sim", "graph.pagerank",
             "dedup.components_dense", "kmeans.lloyd", "ann.lloyd_vec")
    min_timed_rounds = 2

    def prepare(self):
        spark, sf = self.spark, self.sf_dir
        pts = customer_points(spark, sf).select("id", "x", "y", "value")
        pages = synth_webpages(spark, sf)
        links = host_links(pages)
        bp = self.aux["blob_pairs"]
        blob_pairs = spark.createDataFrame(
            pd.DataFrame({"a": bp[:, 0], "b": bp[:, 1]}))
        blob_docs = blob_pairs.select(F.col("a").alias("doc_id")).union(
            blob_pairs.select("b")).distinct()
        # integer-valued coordinates (the catalog's kmeans input form):
        # every Lloyd mean is an exact integer sum over a count
        key = F.col("c_custkey")
        km_pts = load_table(spark, sf, "customer").select(
            key.alias("id"),
            ((key * 9973) % 24000).cast("double").alias("x"),
            ((key * 7919) % 9600).cast("double").alias("y"))
        emb = load_table(spark, sf, "embeddings").select("vec_id",
                                                         "embedding")
        self.inputs = [df.persist() for df in
                       (pts, links, blob_pairs, blob_docs, km_pts, emb)]
        counts = [df.count() for df in self.inputs]
        # rows handed in: sim points, pages behind the link graph, pairs,
        # kmeans points, vectors
        self.input_rows = (counts[0] + self.aux["shape"]["n_docs"]
                           + counts[2] + counts[4] + counts[5])
        (self.pts, self.links, self.blob_pairs, self.blob_docs, self.km_pts,
         self.emb) = self.inputs

    def ops(self):
        state = {}

        def edges():
            # the registry lets end_round unpersist the kNN loop's blocks;
            # left cached, the next round's identical plans would read them
            # and skip the candidate join
            e = self._pin(row_standardize(
                knn_edges(self.pts, k=KNN_K, cell_size=KNN_CELL,
                          persist_registry=self.cached)
                .select("id", "nbr")))
            state["edges"] = e
            return _rows(e)

        def getis():
            res = getis_gstar_sim(
                self.pts.select("id", "value"), state["edges"],
                permutations=PERMS, seed=SIM_SEED,
                persist_registry=self.cached)
            return _rows(res)

        def centroids():
            c = lloyd_vec_centroids(self.emb, n_lists=IVF_LISTS,
                                    iters=IVF_ITERS)
            return pd.DataFrame({"list_id": range(len(c)), "centroid": c})

        return [
            ("knn.edges", edges),
            ("getis.sim", getis),
            ("graph.pagerank",
             lambda: _rows(pagerank_fp(self.links, iters=GRAPH_ITERS))),
            ("dedup.components_dense",
             lambda: _rows(dedup_components(self.blob_docs,
                                            self.blob_pairs))),
            ("kmeans.lloyd",
             lambda: _rows(kmeans_lloyd(self.km_pts, k=KM_K,
                                        iters=KM_ITERS))),
            ("ann.lloyd_vec", centroids),
        ]


def _sum_units(units, metric, names):
    return sum(units[n][metric] for n in names if n in units)


def layer_extras(units: dict) -> dict:
    """Per-layer metrics derived from a traced round's unit counters."""
    return {
        "knn.shuffle_mb": _sum_units(units, "shuffle_mb", ["knn.edges"]),
        "python.worker_cpu_s": _sum_units(units, "python_cpu_s",
                                          ["getis.sim"]),
        "python.arrow_mb": _sum_units(units, "python_mb", ["getis.sim"]),
        "graph.held_mb": _sum_units(units, "held_mb", ["graph.pagerank"]),
    }


WORKLOADS = {"hotspot": Hotspot, "sims_loops": SimsLoops}
ALL_UNITS = Hotspot.units + SimsLoops.units
#: per-layer metrics besides the per-unit ones, with their units
EXTRA_LAYER_METRICS = {
    "pipeline.features_s": "s", "pipeline.pip_s": "s",
    "pipeline.cellagg_s": "s", "pipeline.gistar_s": "s",
    "checkpoint.written_mb": "MB", "knn.shuffle_mb": "MB",
    "python.worker_cpu_s": "s", "python.arrow_mb": "MB",
    "graph.held_mb": "MB",
}
