"""Weighted single-source shortest paths — frontier Bellman–Ford.

Hop-based traversal (operators/bfs.py, nhop.py) answers "how many
links away"; this answers "how far by edge length" — the weighted
companion every link-graph toolbox needs (cost-weighted reachability,
weighted eccentricity, routing-style queries). The reference's nHop
kernel carries the same frontier-expansion shape without weights
(/root/reference/L2/nHop); SURVEY §2.3.

Algorithm: synchronous frontier relaxation (the distributed Bellman–Ford
specialization that behaves like delta-stepping when edge weights are
similar): round i relaxes ONLY edges leaving vertices whose tentative
distance improved in round i−1 —

    cand_i  = frontier_{i-1} ⋈ adjacency → (dst, dist + w)
    best_i  = min per dst (map-side combine)
    improved = best_i < state.dist (or state missing)
    state   = min-merge; frontier_i = improved

Rounds ≤ the hop count of the longest shortest path (≤ V−1 always, in
practice O(diameter)); each round is one equi-join + one hash
aggregation + one merge join, only the frontier and the V-sized state
table move. The improved-count is the round's single driver action and
the loop's stop test; lineage is truncated per round. Negative weights
are rejected up front (Bellman–Ford would need V−1 full-edge rounds and
a negative-cycle check — out of scope for link-graph lengths, which are
counts or reciprocal affinities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import Superstep

HARD_EVERY = 4  # hard parquet reset cadence of the relaxation loop


def _frontier(state: DataFrame) -> DataFrame:
    """Vertices whose distance improved in the last round."""
    return state.filter(F.coalesce(F.col("_improved"), F.lit(False))).select(
        "vid", "dist"
    )


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    directed: bool = False,
    max_rounds: int = 200,
) -> DataFrame:
    """Shortest weighted distance from ``source``: DataFrame(vid, dist)
    over reachable vertices (dist(source) = 0). Undirected by default
    (edges symmetrized); weights must be non-negative. Exhausting
    ``max_rounds`` with relaxations still improving warns
    (plans/superstep.py): the distances are then UPPER BOUNDS."""
    adj = (
        edges.select("src", "dst", "weight")
        if directed
        else symmetrize(edges).select("src", "dst", "weight")
    ).persist()
    if adj.filter(F.col("weight") < 0).limit(1).count() > 0:
        adj.unpersist()
        raise ValueError("sssp requires non-negative edge weights")

    # the state carries the last round's improved flag: its frontier is
    # the next round's relaxation set (the source alone at round 1)
    state = spark.createDataFrame(
        [(int(source), 0.0, True)], "vid long, dist double, _improved boolean"
    ).localCheckpoint(eager=True)

    def step(state, _rnd):
        frontier = _frontier(state)
        cand = (
            frontier.join(adj, frontier.vid == adj.src)
            .select(
                F.col("dst").alias("vid"),
                (F.col("dist") + F.col("weight")).alias("nd"),
            )
            .groupBy("vid")
            .agg(F.min("nd").alias("nd"))
        )
        return state.select("vid", "dist").join(cand, "vid", "full_outer").select(
            "vid",
            F.least(
                F.coalesce(F.col("dist"), F.lit(float("inf"))),
                F.coalesce(F.col("nd"), F.lit(float("inf"))),
            ).alias("dist"),
            (
                F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
            ).alias("_improved"),
        )

    state = Superstep(spark, "sssp", HARD_EVERY).run(
        state,
        step,
        max_rounds,
        cap="max_rounds",
        measure=lambda st: float(_frontier(st).count()),
        static=(adj,),
    )
    return state.select("vid", "dist")
