"""k-truss extraction by synchronous support peeling.

The k-truss of an undirected graph is the maximal subgraph in which every
edge participates in at least k−2 triangles — the edge-level density
refinement above the vertex-level k-core (every k-truss is inside the
(k−1)-core), and the standard link-spam / boilerplate-mesh pruner: an
edge survives only if its endpoints share enough common neighbors. The
reference reaches the same neighborhoods through its nHop adjacency
hash-probe (/root/reference/L2/nHop — the wedge-intersection pattern the
triangle counter reuses, operators/triangles.py); here the whole fixed
point is declarative:

    round i: tri_i  = triangles of the surviving edge set
             sup_i(e) = # triangles containing e  (0 if none)
             edges_{i+1} = { e : sup_i(e) ≥ k−2 }

Each round is one triangle enumeration (two equi-joins on the canonical
a<b<c edge table) plus a hash aggregation and a semi-join — all on an
edge set that only ever shrinks. Rounds are synchronous (all weak edges
of a round drop together), so the result is the true k-truss regardless
of round order and a converged state is a fixed point — which makes the
fixed-round SQL unroll in ``__spark_entry__`` an exact oracle (the kcore
technique, operators/kcore.py).

Scale shape: the enumeration joins the oriented table to itself on the
shared endpoint — quadratic only within one vertex's higher-ORDERED
neighborhood. The peel runs in (degree, id)-oriented space (the exact
``triangles.py`` `_oriented` bound: O(√m) fan-out per vertex, where the
former src<dst id-orientation was ~(d/2)² wedge rows per round on a
mid-id hub of degree d); any fixed total order enumerates each triangle
exactly once, so the per-edge support attribution and the peel fixed
point are unchanged, and ids map back to canonical src<dst on return.
Termination is edge-count based
(no edges dropped ⇒ supports unchanged ⇒ fixed point); exhausting
``max_rounds`` first warns loudly and returns the supergraph
(plans/superstep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.superstep import Superstep, change_of

HARD_EVERY = 4  # hard parquet reset cadence of the peel loop


def _support(active: DataFrame) -> DataFrame:
    """Per-edge triangle support of an oriented (lo→hi in some total
    order) edge set: DataFrame(src, dst, support) covering every active
    edge in the SAME orientation (0 rows for edges in no triangle are
    absent — callers left-join). Correct for any total-order orientation;
    the caller passes a (degree, id)-oriented table so the wedge fan-out
    is bounded by O(√m) per vertex (see ktruss)."""
    a = active.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    b = active.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    c = active.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        a.join(b, "b")
        .join(c, ["a", "c"])  # a≺b≺c in the orientation order: each once
    )
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
    )
    return sides.groupBy("src", "dst").agg(F.count("*").alias("support"))


def _orient_by_degree(edges_canon: DataFrame) -> DataFrame:
    """Re-orient a canonical (src<dst) edge table by the (degree, id)
    total order — the triangles.py `_oriented` technique. The wedge join
    in `_support` fans out on each vertex's HIGHER-ordered neighborhood,
    which id-orientation leaves unbounded (a mid-id hub of degree d
    yields ~(d/2)² wedge rows, and the peel recomputes support from
    scratch EVERY round); degree-orientation bounds it by O(√m).
    Orientation uses the INITIAL degrees throughout the peel — any fixed
    total order keeps triangle enumeration exactly-once, so the peel
    fixed point (and the returned edge set) is unchanged."""
    deg = (
        edges_canon.select(F.explode(F.array("src", "dst")).alias("vid"))
        .groupBy("vid")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges_canon.select("src", "dst")
        .join(
            deg.select(F.col("vid").alias("src"), F.col("deg").alias("dsrc")), "src"
        )
        .join(
            deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddst")), "dst"
        )
    )
    lower_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def ktruss(
    spark: SparkSession,
    edges_canon: DataFrame,
    k: int,
    max_rounds: int = 50,
    metrics=None,
) -> DataFrame:
    """Edges of the k-truss with their within-truss support:
    DataFrame(src, dst, support). Empty when the graph has no k-truss.
    ``edges_canon`` is the canonical undirected-once table (src < dst).
    ``metrics`` rows carry (round, edges_dropped, surviving_edges,
    wall_s)."""
    if k < 2:
        raise ValueError("k must be >= 2 (k=2 keeps every edge)")
    need = k - 2
    # peel in (degree, id)-oriented space: bounds every round's wedge
    # fan-out by O(√m) where the former src<dst id-orientation was
    # quadratic on a mid-id mega-hub; ids are mapped back on return
    active = _orient_by_degree(edges_canon).persist()
    surviving, dropped = change_of(lambda st: st.count(), active)

    def step(active, _rnd):
        sup = _support(active)
        return (
            active.join(sup, ["src", "dst"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= need)
            .select("src", "dst")
        )

    if surviving[0] and need:  # else the input is its own fixed point
        active = Superstep(spark, f"ktruss(k={k})", HARD_EVERY).run(
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

    sup = _support(active)
    return active.join(sup, ["src", "dst"], "left").select(
        # map back to the canonical src<dst id orientation
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.coalesce(F.col("support"), F.lit(0)).alias("support"),
    )
