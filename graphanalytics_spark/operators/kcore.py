"""k-core extraction by synchronous distributed peeling.

The k-core of an undirected graph is the maximal induced subgraph in
which every vertex has degree ≥ k — the standard link-graph density
filter (spam-farm / boilerplate-hub pruning before community detection,
and the cheap upper bound on clique size). The reference exposes the
same "drop weak vertices, recompute, repeat" shape through its
isolateVertex + degree-recompute loop
(/root/reference/mis/include/xilinxmis.hpp:86-106 with
grappolo/src/utilityClusteringFunctions.cpp:46-59); here the whole fixed
point is declarative:

    round i: deg_i = degrees of the surviving edge set
             keep_i = { v : deg_i(v) ≥ k }
             edges_{i+1} = edges_i semi-joined to keep_i on BOTH ends

Each round is one hash aggregation plus two semi-joins on an edge table
that only ever shrinks — the classic distributed peel. Rounds are
synchronous (all sub-k vertices of a round drop together), so the result
is the true k-core regardless of round order, and a converged state is a
fixed point (extra sweeps are no-ops) — which is what makes the
fixed-round SQL oracle in ``__spark_entry__`` exact.

Driver-action economics: one count per round (the stop test doubles as
the lineage-materializing action); the loop is the PageRank/CC superstep
runner (plans/superstep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.superstep import Superstep, change_of

HARD_EVERY = 4  # hard parquet reset cadence of the peel loop


def _degrees(active: DataFrame) -> DataFrame:
    """(vid, core_degree) over the edge set ``active``."""
    return (
        active.select(F.col("src").alias("vid"))
        .unionAll(active.select(F.col("dst").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("core_degree"))
    )


def kcore(
    spark: SparkSession,
    edges_canon: DataFrame,
    k: int,
    max_rounds: int = 100,
    metrics=None,
) -> DataFrame:
    """Vertices of the k-core with their within-core degree:
    DataFrame(vid: long, core_degree: long). Empty result when the graph
    has no k-core. ``edges_canon`` is the canonical undirected-once table
    (src < dst).

    Termination (r4 advice): the fixed-point test is EDGE-count based —
    a round that drops no edges cannot change any degree, hence cannot
    change the keep set, so the peel has converged. If ``max_rounds`` is
    exhausted before that (a pathological onion at this k), the result is
    a supergraph of the true k-core; that truncation warns loudly instead
    of returning silently (plans/superstep.py). ``metrics`` rows carry
    (round, edges_dropped, surviving_edges, wall_s) — the surviving EDGE
    count in the edges slot, so derived edges/s throughput is honest."""
    if k < 1:
        raise ValueError("k must be >= 1")
    active = edges_canon.select("src", "dst").persist()
    surviving, dropped = change_of(lambda st: st.count(), active)  # setup count

    def step(active, _rnd):
        keep = _degrees(active).filter(F.col("core_degree") >= k).select("vid")
        return active.join(
            keep.withColumnRenamed("vid", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")

    if surviving[0]:  # an empty edge set is its own fixed point
        active = Superstep(spark, f"kcore(k={k})", HARD_EVERY).run(
            active,
            step,
            max_rounds,
            cap="max_rounds",
            measure=dropped,
            edges=lambda: surviving[-1],
            metrics=metrics,
        )
    else:
        active.unpersist()
    return _degrees(active)
