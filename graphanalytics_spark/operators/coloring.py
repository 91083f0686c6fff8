"""Distance-1 vertex coloring — distributed Jones–Plassmann greedy.

The reference colors vertices to schedule conflict-free parallel Louvain
moves (grappolo's ``algoDistanceOneVertexColoringOpt``,
/root/reference/louvainmod/grappolo/src/coloringDistanceOne.cpp:52-149 —
greedy first-fit over the neighborhood with random priorities; consumed
by parallelLouvainWithColoring.cpp). This is the Spark-first form:
Jones–Plassmann rounds with the SAME deterministic hash-priority family
as the MIS operator (operators/mis.py) —

    round i: frontier = uncolored vertices whose (priority, vid) beats
             every uncolored neighbor (a local max — an independent set)
             color(v ∈ frontier) = mex{ color(u) : u ∈ N(v), colored }
             (first-fit: smallest non-negative color unused next door,
              exactly grappolo's Mark[]-scan, coloringDistanceOne.cpp:
              130-149)

Rounds are synchronous and the frontier is independent, so two
neighbors are never colored in the same round — the result is a proper
coloring by construction, and deterministic for a given seed (replayable
across task retries). Expected O(log n) rounds (Luby argument).

Scale shape per round: one self-join of the uncolored frontier
candidates against uncolored-neighbor priorities (the MIS winner test),
one join against colored neighbors, and the mex as
``explode(sequence(0, blocked_count))`` anti-joined to the blocked color
set — a vertex with b colored neighbors scans at most b+1 candidates,
so total mex work over the whole run is O(E) rows. No per-row Python.

Grundy invariant (what the tests/certificate assert): for every vertex
and every color c < color(v), some neighbor carries c — i.e. the
coloring is first-fit-tight, hence ≤ max_degree+1 colors.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.graph import symmetrize
from graphanalytics_spark.plans.truncate import LineageTruncator

HARD_EVERY = 4  # hard parquet reset cadence


def greedy_coloring(
    spark: SparkSession,
    edges_canon: DataFrame,
    seed: int = 42,
    max_rounds: int = 200,
) -> DataFrame:
    """Proper distance-1 coloring: DataFrame(vid: long, color: int ≥ 0).
    Deterministic for a given seed. Colors are first-fit (Grundy) w.r.t.
    the Jones–Plassmann elimination order."""
    sym = symmetrize(edges_canon).select("src", "dst").persist()
    verts = sym.select(F.col("src").alias("vid")).distinct()
    prio = verts.select(
        "vid",
        F.pmod(F.xxhash64("vid", F.lit(seed)), F.lit(1 << 40)).alias("prio"),
    )
    truncator = LineageTruncator(spark, hard_every=HARD_EVERY)

    uncolored = prio.localCheckpoint(eager=True)
    colored = spark.createDataFrame([], "vid long, color int")
    n_left = uncolored.count()
    rounds = 0
    while n_left > 0 and rounds < max_rounds:
        rounds += 1
        # winner test: no UNCOLORED neighbor with (higher prio, tie higher
        # vid) — a deterministic local max, mirroring mis.py
        nbr_p = (
            sym.join(uncolored.select(F.col("vid").alias("src")), "src", "left_semi")
            .join(
                uncolored.select(
                    F.col("vid").alias("dst"),
                    F.col("prio").alias("nprio"),
                    F.col("vid").alias("nvid"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(
                F.max(
                    F.struct(
                        F.col("nprio").alias("p"), F.col("nvid").alias("v")
                    )
                ).alias("best_n")
            )
        )
        frontier = (
            uncolored.join(nbr_p, uncolored.vid == nbr_p.src, "left")
            .filter(
                F.col("best_n").isNull()
                | (
                    F.struct(
                        F.col("prio").alias("p"), F.col("vid").alias("v")
                    )
                    > F.col("best_n")
                )
            )
            .select("vid")
        )
        # mex over already-colored neighbors: explode 0..b candidates,
        # anti-join the blocked set, take the min
        blocked = (
            frontier.join(sym, frontier.vid == sym.src)
            .join(
                colored.select(
                    F.col("vid").alias("dst"), F.col("color").alias("ncolor")
                ),
                "dst",
            )
            .select(F.col("src").alias("vid"), "ncolor")
            .distinct()
        )
        nblocked = blocked.groupBy("vid").agg(F.count("*").alias("b"))
        cand = (
            frontier.join(nblocked, "vid", "left")
            .select(
                "vid",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("b"), F.lit(0)))
                ).alias("c"),
            )
        )
        newly = (
            cand.join(
                blocked,
                (cand.vid == blocked.vid) & (cand.c == blocked.ncolor),
                "left_anti",
            )
            .groupBy("vid")
            .agg(F.min("c").cast("int").alias("color"))
        )
        newly = truncator.truncate(newly, rounds, stream=None)
        colored = truncator.truncate(
            colored.unionByName(newly), rounds, stream="colored"
        )
        uncolored = (
            uncolored.join(newly.select("vid"), "vid", "left_anti")
            .localCheckpoint(eager=True)
        )
        n_left = uncolored.count()
    if n_left > 0:
        warnings.warn(
            f"greedy_coloring stopped at max_rounds={max_rounds} with "
            f"{n_left} vertices uncolored.",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    return colored


def verify_coloring(
    spark: SparkSession, edges_canon: DataFrame, coloring: DataFrame
) -> dict:
    """Invariant certificate (the verifyMis analog, mis.py:verify_mis):
    conflicts  = edges whose endpoints share a color (must be 0)
    uncolored  = graph vertices missing from the coloring (must be 0)
    grundy_violations = (v, c) with c < color(v) and no neighbor colored
    c (must be 0 — proves first-fit tightness, hence ≤ Δ+1 colors)."""
    sym = symmetrize(edges_canon).select("src", "dst")
    col_s = coloring.select(F.col("vid").alias("src"), F.col("color").alias("cs"))
    col_d = coloring.select(F.col("vid").alias("dst"), F.col("color").alias("cd"))
    joined = sym.join(col_s, "src", "left").join(col_d, "dst", "left")
    conflicts = joined.filter(
        F.col("cs").isNotNull() & (F.col("cs") == F.col("cd"))
    ).count() // 2
    verts = sym.select(F.col("src").alias("vid")).distinct()
    uncolored = verts.join(coloring, "vid", "left_anti").count()
    # Grundy: every color below one's own appears in the neighborhood
    want = coloring.filter(F.col("color") > 0).select(
        "vid", F.explode(F.sequence(F.lit(0), F.col("color") - 1)).alias("c")
    )
    have = (
        sym.join(
            coloring.select(F.col("vid").alias("dst"), F.col("color").alias("c")),
            "dst",
        )
        .select(F.col("src").alias("vid"), "c")
        .distinct()
    )
    grundy = want.join(have, ["vid", "c"], "left_anti").count()
    return {
        "conflicts": int(conflicts),
        "uncolored": int(uncolored),
        "grundy_violations": int(grundy),
    }
