"""The three workloads as sequences of timed calls into the program.

A workload is built once per run from its generated input files (the
set-up reads and checkpoints them) and then executes identical passes.
Each pass calls public functions of ``graphchi_cpp_spark`` through the
``Runner`` given to it; the runner times each call, labels its Spark
jobs and checks its output against the oracle. Every DataFrame result is
materialised inside the timed call (an eager local checkpoint), so a
call's time is the time to produce its result, and freed when the pass
ends.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphchi_cpp_spark.algos.connected_components import (
    connected_components,
    connected_components_star,
)
from graphchi_cpp_spark.algos.kcores import kcores
from graphchi_cpp_spark.algos.label_propagation import lpa_communities
from graphchi_cpp_spark.algos.msf import minimum_spanning_forest
from graphchi_cpp_spark.algos.pagerank import pagerank
from graphchi_cpp_spark.algos.random_walks import random_walks
from graphchi_cpp_spark.algos.scc import strongly_connected_components
from graphchi_cpp_spark.algos.triangles import triangle_count
from graphchi_cpp_spark.cf.als_variants import als_coord
from graphchi_cpp_spark.graph import PropertyGraph
from graphchi_cpp_spark.operators.toplist import top_k_vertices
from graphchi_cpp_spark.sources.readers import read_edge_list
from graphchi_cpp_spark.streaming.ingest import DynamicGraph, run_streaming_pagerank

from perfbench import inputs

# Algorithm parameters, shared with the oracles (perfbench/oracles.py).
PAGERANK_ITERS = 5
TOP_K = 20
LPA_ITERS = 2
WALKS_PER_SOURCE = 4
WALK_STEPS = 3
ALS_ITERS = 1
STREAM_SUPERSTEPS = 3


class ErVolume:
    """Load a text edge list, then PageRank, WCC, triangles and top-k."""

    name = "er-volume"

    def __init__(self, spark, paths):
        self.spark = spark
        self.path = paths["edges"]

    def run_pass(self, run):
        edges = run.call(
            "sources.read_edge_list",
            lambda: run.materialize(read_edge_list(self.spark, self.path)),
            "edges",
        )
        g = None if edges is None else PropertyGraph(edges)
        ranks = run.call(
            "algos.pagerank",
            lambda: run.materialize(pagerank(g, max_iter=PAGERANK_ITERS)),
            "pagerank",
            needs=g,
        )
        run.call(
            "algos.connected_components",
            lambda: run.materialize(connected_components(g)),
            "wcc",
            needs=g,
        )
        run.call(
            "algos.triangle_count",
            lambda: triangle_count(g).collect()[0]["n_triangles"],
            "triangles",
            needs=g,
        )
        run.call(
            "operators.top_k_vertices",
            lambda: top_k_vertices(ranks, "rank", TOP_K).toPandas(),
            "top_k",
            needs=ranks,
        )


class SmallIterative:
    """Seven iterative algorithms on a small graph: many near-empty
    supersteps, so wall time follows the number of Spark jobs."""

    name = "small-iterative"

    def __init__(self, spark, paths):
        edges = spark.read.parquet(paths["edges"]).localCheckpoint(eager=True)
        self.ratings = spark.read.parquet(paths["ratings"]).localCheckpoint(
            eager=True
        )
        self.graph = PropertyGraph(edges.select("src", "dst"))
        self.weighted = PropertyGraph(edges)
        self.sources = (
            self.graph.vertices.filter(F.col("id") % inputs.WALK_SOURCE_MOD == 0)
            .localCheckpoint(eager=True)
        )

    def run_pass(self, run):
        m = run.materialize
        g = self.graph
        run.call(
            "algos.minimum_spanning_forest",
            lambda: m(minimum_spanning_forest(self.weighted)),
            "msf",
        )
        run.call("algos.kcores", lambda: m(kcores(g)), "kcores")
        run.call(
            "algos.lpa_communities",
            lambda: m(lpa_communities(g, max_iter=LPA_ITERS)),
            "lpa",
        )
        run.call(
            "algos.connected_components_star",
            lambda: m(connected_components_star(g)),
            "wcc",
        )
        run.call(
            "algos.random_walks",
            lambda: m(
                random_walks(
                    g, self.sources, walks_per_source=WALKS_PER_SOURCE,
                    steps=WALK_STEPS,
                )
            ),
            "walks",
        )
        run.call(
            "algos.strongly_connected_components",
            lambda: m(strongly_connected_components(g)),
            "scc",
        )
        run.call(
            "cf.als_coord",
            lambda: als_coord(self.ratings, d=2, iterations=ALS_ITERS)[2],
            "als",
        )


class _ObservedGraph(DynamicGraph):
    """DynamicGraph that reports each batch and compaction to the runner.

    Overrides only wrap the public methods; the engine code is unchanged.
    A batch lasts from one ``ingest_batch`` call to the next (or to the
    end of ``run_streaming_pagerank``): the time until its ranks exist.
    """

    def __init__(self, base, run):
        self._run = run
        super().__init__(base)

    def ingest_batch(self, batch):
        self._run.batch_boundary()
        super().ingest_batch(batch)

    def compact(self):
        with self._run.compaction():
            super().compact()


class StreamMutate:
    """A base graph plus add/delete batches through DynamicGraph and
    run_streaming_pagerank with auto-compaction."""

    name = "stream-mutate"

    def __init__(self, spark, paths):
        self.base = spark.read.parquet(paths["base"]).localCheckpoint(eager=True)
        events = spark.read.parquet(paths["events"])
        self.batches = [
            events.filter(F.col("batch") == b)
            .select("src", "dst", "op")
            .localCheckpoint(eager=True)
            for b in range(1, inputs.STREAM_BATCHES + 1)
        ]

    def run_pass(self, run):
        dg = run.call(
            "streaming.DynamicGraph",
            lambda: _ObservedGraph(self.base, run),
            None,
        )
        run.call(
            "streaming.run_streaming_pagerank",
            lambda: run.stream(
                lambda: run_streaming_pagerank(
                    dg, self.batches, supersteps_per_batch=STREAM_SUPERSTEPS
                ).toPandas(),
                n_batches=len(self.batches),
            ),
            "stream_ranks",
            needs=dg,
            ops=len(self.batches),
        )


WORKLOADS = {w.name: w for w in (ErVolume, SmallIterative, StreamMutate)}

# Every call a workload makes, as <module>.<function>; used to name the
# per-layer metrics (module path below graphchi_cpp_spark).
CALLS = {
    "er-volume": [
        "sources.read_edge_list",
        "algos.pagerank",
        "algos.connected_components",
        "algos.triangle_count",
        "operators.top_k_vertices",
    ],
    "small-iterative": [
        "algos.minimum_spanning_forest",
        "algos.kcores",
        "algos.lpa_communities",
        "algos.connected_components_star",
        "algos.random_walks",
        "algos.strongly_connected_components",
        "cf.als_coord",
    ],
    "stream-mutate": [
        "streaming.DynamicGraph",
        "streaming.run_streaming_pagerank",
    ],
}

