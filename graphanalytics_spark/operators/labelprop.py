"""Synchronous label propagation (community detection).

The Louvain move rule stripped of the modularity term: each vertex adopts
the label with the maximum total incident edge weight among its neighbors,
with the reference's deterministic tie rules — higher weight wins, equal
weight → smaller label id (argmax tie-breaking per
/root/reference/grappolo/src/utilityClusteringFunctions.cpp:115-151 and the
GSQL MaxAccum<move> encoding in
/root/reference/plugin/tigergraph/comdetect/examples/comdetect/query/louvain_distributed_q_cpu.gsql:77-95).

Synchronous (Jacobi) sweeps make the iteration race-free without the
reference's graph coloring (SURVEY.md §4); determinism comes entirely from
the total-order tie rule, encoded as ``max(struct(weight, -label))`` so a
single hash aggregation resolves the argmax (no window sort needed).

Scale: per sweep = one join on the persisted symmetrized edge table + one
aggregation keyed by (dst). Hub skew is absorbed by map-side partial
aggregation of the struct-max (max is algebraic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.superstep import Superstep, shuffle_partitions

# Hard parquet reset every 8 sweeps (was 5): the every-2-sweep stop-test
# count already finalizes the lazy localCheckpoints; order-balanced 5-vs-8
# A/B had 8 faster in all four pairs (3.0-3.2 vs 3.2-4.0 s warm at sf0.1)
HARD_EVERY = 8


def _labels(state: DataFrame) -> DataFrame:
    return state.select("vid", "label")


def label_propagation(
    spark: SparkSession,
    edges_canon: DataFrame,
    max_iter: int = 20,
    metrics=None,
    initial_state: DataFrame | None = None,
    checkpointer=None,
    check_every: int = 2,
) -> DataFrame:
    """Returns DataFrame(vid: long, label: long). Labels initialized to
    vid; converges when no label changes in a sweep or max_iter reached
    (the latter warns, plans/superstep.py).
    ``initial_state``/``checkpointer`` give kill-and-resume semantics.
    ``check_every``: the no-change stop test runs every k sweeps (sweeps
    are idempotent on a converged labeling, so semantics are unchanged —
    same driver-action economics as pagerank/components)."""
    # static side partitioned on the gather key once (pagerank policy)
    sym = symmetrize(edges_canon).repartition(shuffle_partitions(spark), "src").persist()
    n_edges = sym.count()

    if initial_state is not None:
        state = initial_state.select("vid", "label")
    else:
        state = (
            sym.select(F.col("src").alias("vid"))
            .distinct()
            .select("vid", F.col("vid").alias("label"))
        )

    def step(state, _it):
        # gather: per (vertex, neighbor-label) summed weight, then argmax
        # with ties to the smaller label via max(struct(w, -label)).
        nbr = (
            sym.join(state, sym.src == state.vid)
            .groupBy(F.col("dst").alias("v"), F.col("label").alias("nlabel"))
            .agg(F.sum("weight").alias("w"))
        )
        best = nbr.groupBy(F.col("v").alias("vid")).agg(
            F.max(F.struct(F.col("w"), (-F.col("nlabel")).alias("neg"))).alias("m")
        ).select("vid", (-F.col("m.neg")).alias("new_label"))
        return state.join(best, "vid", "left").select(
            "vid",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
        )

    state = Superstep(spark, "label_propagation", HARD_EVERY, check_every).run(
        state.persist(),
        step,
        max_iter,
        measure=lambda st: float(st.filter("changed").count()),
        static=(sym,),
        edges=n_edges,
        metrics=metrics,
        checkpointer=checkpointer,
        snapshot=_labels,
    )
    return _labels(state)
