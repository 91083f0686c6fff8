"""Distributed PageRank.

Two implementations with identical semantics:

- ``pagerank`` — pure DataFrame gather-scatter: the per-iteration gather is
  ``links JOIN state ON src`` → ``groupBy(dst).sum()``. Catalyst/AQE pick
  the join strategy; map-side partial aggregation absorbs hub-vertex skew.
  This is the plan you want on a 1000-executor cluster: the static
  ``links`` side (src, dst, weight/out-degree) is hash-partitioned on
  ``src`` once and persisted, so every iteration reuses the partitioning
  and only the small state table moves.

- ``pagerank_csr`` — per-partition CSR gather-scatter inside a cogrouped
  Arrow UDF: edges are blocked by hash(src), each block's adjacency is a
  numpy CSR slice, and rank mass is scattered with ``np.add.at``. This
  mirrors the reference's per-partition kernel shape (CSR in, per-vertex
  state in/out, convergence scalar out —
  /root/reference/L2/louvainmod_pruning_kernel/kernel_louvain.cpp:25-135)
  with Spark shuffles playing the ghost-exchange role
  (/root/reference/louvainmod/include/ParLV.h:112-213).

Which to use: the DataFrame path. Measured head-to-head on the ×24
replicated graph (57.4 M symmetrized edges, 20 fixed iterations,
local[32]; BENCH/BASELINE.md r4): join+agg 98.9 s iteration wall
(11.61 M edges/s) vs CSR-Arrow 625.2 s (1.84 M edges/s) — the Arrow
path pays per-block serialization + Python-worker scheduling every
iteration, while the declarative plan stays inside whole-stage codegen.
``pagerank_csr`` remains as the reference-kernel parity shape and the
template for semantics the built-ins cannot express.

Semantics: damping d=0.85; rank(v) = (1-d)/N + d*(dangling_mass/N +
Σ_{u→v} rank(u) * weight(u,v) / wdeg_out(u)); iterate until
max|Δrank| < tol (default 1e-6, the reference's default ΔQ tolerance,
/root/reference/louvainmod/examples/python/pythondemo.py:83). Doubles
throughout. Convergence + per-iteration metrics are recorded so runs are
resumable from a checkpointed state table (plans/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphanalytics_spark.plans.superstep import (
    IterationMetrics,
    Superstep,
    shuffle_partitions,
)

# Hard parquet reset every 5 iterations. Truncation itself is per
# iteration (plans/superstep.py).
# NOTE (r6): batching the truncation 2 iterations per checkpoint was A/B'd
# — it wins ~30% at sf0.1 (scheduling-bound) but the un-truncated odd
# state is referenced twice by the next iteration (gather + merge), so at
# the ×24 scale row the even iterations re-executed the odd gather over
# 57M edges (measured 10-30 s/even-iteration vs a 1.7 s steady state) — a
# 4× regression where work dominates. Per-iteration truncation is the
# scale-safe choice.
HARD_EVERY = 5


def _prepare_links(edges: DataFrame):
    """Static join side: per-edge rank fraction weight/out-degree, hash
    partitioned on src once (to the session's shuffle parallelism) and
    persisted for the whole run — every iteration's gather join then
    reuses this partitioning and only the vertex-state side is exchanged.

    One exchange of E total: the edge table is hash-partitioned on src
    FIRST, so the wdeg aggregation reuses that partitioning (no exchange)
    and the edges⋈wdeg join is co-partitioned (no exchange). The previous
    shape (groupBy shuffle → join → explicit repartition) exchanged E
    twice (guide §2.4: two operations keyed the same way share one
    exchange). frac is an exact integer ratio for count-weighted graphs,
    so the aggregation order change cannot move any value."""
    e = edges.select("src", "dst", "weight").repartition(
        shuffle_partitions(edges.sparkSession), "src"
    )
    out = e.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    links = e.join(out, "src").select(
        "src", "dst", (F.col("weight") / F.col("wdeg")).alias("frac")
    )
    return links.persist()


def _vertices(edges: DataFrame) -> DataFrame:
    """Vertex set + static dangling flag (no out-edges) in ONE aggregation:
    the previous shape (union-distinct + distinct + join) cost two
    distinct shuffles and a join for the same table (guide §2.4)."""
    return (
        edges.select(F.col("src").alias("vid"), F.lit(1).alias("o"))
        .unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("o")))
        .groupBy("vid")
        .agg((F.max("o") == 0).alias("dangling"))
    )


def _count_vertices(verts: DataFrame) -> tuple[int, bool]:
    """(|V|, any dangling vertex) in one action."""
    cnt = verts.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dangling").cast("int")).alias("nd"),
    ).first()
    return int(cnt["n"]), bool(cnt["nd"])


def _gather(links: DataFrame, state: DataFrame) -> DataFrame:
    """Σ_{u→v} rank(u)·frac(u,v) per destination v: links ⋈ state on src,
    then a hash aggregation on dst."""
    return (
        links.join(state, links.src == state.vid)
        .select(links.dst.alias("vid"), (F.col("frac") * F.col("rank")).alias("c"))
        .groupBy("vid")
        .agg(F.sum("c").alias("gathered"))
    )


def _with_dangling_mass(
    joined: DataFrame, state: DataFrame, has_dangling: bool, n: int | None = None
):
    """(joined, term): the dangling mass Σ rank over dangling vertices
    (divided by ``n`` when given) as an in-plan broadcast scalar — no
    driver action — or a 0.0 literal when the graph has no dangling
    vertex."""
    if not has_dangling:
        return joined, F.lit(0.0)
    mass = F.coalesce(F.sum("rank"), F.lit(0.0))
    dm = state.filter("dangling").agg((mass / n if n else mass).alias("_dm"))
    return joined.crossJoin(F.broadcast(dm)), F.col("_dm")


def _max_delta(state: DataFrame) -> float:
    """PageRank's stop-test measure: max|Δrank| of the last iteration."""
    return float(state.agg(F.max("delta")).first()[0])


def _ranks(state: DataFrame) -> DataFrame:
    return state.select("vid", "rank")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    metrics: IterationMetrics | None = None,
    initial_state: DataFrame | None = None,
    checkpointer=None,
    check_every: int = 2,
) -> DataFrame:
    """Converged PageRank over a directed weighted edge table.

    Returns DataFrame(vid: long, rank: double). ``initial_state`` +
    ``checkpointer`` enable mid-run resume (plans/checkpoint.py): pass the
    state table of the last snapshot and iteration continues from there —
    the SaveGLVBin/LoadGLVBin analog
    (/root/reference/louvainmod/src/ParLV.cpp:398-434).

    Action economics (the per-iteration floor at small scale is Spark's
    job-scheduling round, not the join+agg work): the dangling-mass scalar
    is folded into the plan as a broadcast 1-row aggregate instead of a
    per-iteration driver action (and skipped entirely when the graph has
    no dangling vertices — every symmetrized graph), so the only
    per-iteration driver actions left are the convergence check, run every
    ``check_every`` iterations (semantics-preserving: a converged state
    stays converged under extra sweeps, and fixed-iteration runs with
    tol=0 never check), and the hard lineage reset every ``HARD_EVERY``.
    Unchecked iterations chain lazy localCheckpoints that the next action
    materializes in one fused job."""
    links = _prepare_links(edges)
    n_links = links.count()  # materializes the persisted static side
    verts = _vertices(edges).persist()
    n, has_dangling = _count_vertices(verts)
    # a graph with no dangling vertices (every symmetrized graph) needs
    # neither the flag column nor the dangling-mass scalar: narrower
    # checkpointed state rows, one less branch per iteration
    state_cols = ["vid", "rank"] + (["dangling"] if has_dangling else [])

    if initial_state is not None:
        state = initial_state.join(verts, "vid").select(*state_cols)
    else:
        state = verts.select("vid", F.lit(1.0 / n).alias("rank"), "dangling").select(
            *state_cols
        )

    base = (1.0 - damping) / n

    def step(state, _it):
        joined, dm_term = _with_dangling_mass(
            state.join(_gather(links, state), "vid", "left"), state, has_dangling, n
        )
        new_rank_expr = F.lit(base) + F.lit(damping) * (
            F.coalesce(F.col("gathered"), F.lit(0.0)) + dm_term
        )
        out_cols = [
            "vid",
            new_rank_expr.alias("rank"),
            *(["dangling"] if has_dangling else []),
        ]
        if tol > 0:
            # fixed-iteration runs (tol=0) never read delta — skip the
            # column so the checkpointed state stays minimal
            out_cols.append(F.abs(new_rank_expr - F.col("rank")).alias("delta"))
        return joined.select(*out_cols)

    state = Superstep(spark, "pagerank", HARD_EVERY, check_every).run(
        state.persist(),
        step,
        max_iter,
        measure=_max_delta if tol > 0 else None,  # tol=0: fixed iterations
        done=lambda delta: delta < tol,
        static=(verts, links),
        edges=n_links,
        metrics=metrics,
        checkpointer=checkpointer,
        snapshot=_ranks,
    )
    return _ranks(state)


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    n_blocks: int = 32,
    metrics: IterationMetrics | None = None,
    check_every: int = 2,
) -> DataFrame:
    """PageRank with the gather expressed as per-partition CSR blocks inside
    a cogrouped Arrow UDF (``applyInPandas`` over cogroup).

    Edges are blocked by hash(src) % n_blocks; the state table is
    co-blocked on vid, so each task sees (edges of block, ranks of block)
    and emits partial contributions (dst, c) which the engine reduces with
    a plain hash aggregation. The block-local scatter is numpy
    (frac * rank gathered per src, np.add.at on dst) — vectorized, no
    per-row Python.
    """
    import numpy as np  # noqa: F401  (imported for the UDF closure)

    out = edges.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    links = (
        edges.join(out, "src")
        .select(
            "src",
            "dst",
            (F.col("weight") / F.col("wdeg")).alias("frac"),
            F.pmod(F.xxhash64("src"), F.lit(n_blocks)).alias("block"),
        )
        # pre-partition on the cogroup key once: each iteration's cogroup
        # then exchanges only the vertex-state side, never the edge blocks
        .repartition(shuffle_partitions(spark), "block")
        .persist()
    )
    n_links = links.count()

    verts = _vertices(edges)
    n, has_dangling = _count_vertices(verts)
    state = verts.select(
        "vid",
        F.lit(1.0 / n).alias("rank"),
        "dangling",
        F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).alias("block"),
    )

    def scatter(edges_pdf, state_pdf):
        import pandas as pd

        if len(edges_pdf) == 0 or len(state_pdf) == 0:
            return pd.DataFrame({"vid": [], "c": []}).astype({"vid": "int64", "c": "float64"})
        # block-local CSR-style kernel, all numpy: gather src ranks by
        # binary search over the sorted block vertex ids, scatter the
        # contributions onto the block-local dst index space with
        # np.add.at — the per-partition analog of the reference's
        # gather/scatter kernel loop (kernel_louvain.cpp:25-135)
        vids = state_pdf["vid"].to_numpy(dtype=np.int64)
        ranks = state_pdf["rank"].to_numpy(dtype=np.float64)
        order = np.argsort(vids, kind="stable")
        vids_s, ranks_s = vids[order], ranks[order]
        src = edges_pdf["src"].to_numpy(dtype=np.int64)
        # co-grouping guarantees every edge's src is in this block's state
        contrib = edges_pdf["frac"].to_numpy(dtype=np.float64) * ranks_s[
            np.searchsorted(vids_s, src)
        ]
        dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
        uniq, inv = np.unique(dst, return_inverse=True)
        acc = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(acc, inv, contrib)
        return pd.DataFrame({"vid": uniq, "c": acc})

    base = (1.0 - damping) / n

    def step(state, _it):
        state = state.drop("delta")  # the cogroup ships whole state rows
        contribs = (
            links.groupBy("block")
            .cogroup(state.groupBy("block"))
            .applyInPandas(scatter, schema="vid long, c double")
            .groupBy("vid")
            .agg(F.sum("c").alias("gathered"))
        )
        joined, dm_term = _with_dangling_mass(
            state.join(contribs, "vid", "left"), state, has_dangling, n
        )
        new_rank_expr = F.lit(base) + F.lit(damping) * (
            F.coalesce(F.col("gathered"), F.lit(0.0)) + dm_term
        )
        return joined.select(
            "vid",
            new_rank_expr.alias("rank"),
            "dangling",
            "block",
            F.abs(new_rank_expr - F.col("rank")).alias("delta"),
        )

    state = Superstep(spark, "pagerank_csr", HARD_EVERY, check_every).run(
        state.persist(),
        step,
        max_iter,
        measure=_max_delta if tol > 0 else None,  # tol=0: fixed iterations
        done=lambda delta: delta < tol,
        static=(links,),
        edges=n_links,
        metrics=metrics,
    )
    return _ranks(state)


def pagerank_fixed(
    spark: SparkSession, edges: DataFrame, iterations: int = 5, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank (no convergence test) — the
    oracle-checkable slice: identical math to ``pagerank`` but a statically
    unrollable number of gather rounds, so the DuckDB oracle can express it
    as nested SQL. Returns ranks rounded to 9 decimals for cross-engine
    hash stability."""
    r = pagerank(
        spark,
        edges,
        damping=damping,
        tol=0.0,
        max_iter=iterations,
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))


def pagerank_csr_fixed(
    spark: SparkSession, edges: DataFrame, iterations: int = 5, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration variant of the CSR-block Arrow-UDF implementation —
    same oracle as ``pagerank_fixed`` (identical math, different physical
    plan), so the pandas/Arrow gather path gets a value-level correctness
    gate too."""
    r = pagerank_csr(
        spark, edges, damping=damping, tol=0.0, max_iter=iterations
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    metrics: IterationMetrics | None = None,
    check_every: int = 2,
) -> DataFrame:
    """Personalized PageRank: the reset distribution is uniform over the
    ``seeds`` vertex set instead of uniform over V, so rank measures
    proximity to the seeds (the similar-items query of the reference's
    recommendation plugin, /root/reference/plugin/tigergraph/recomengine,
    expressed as a graph walk instead of feature cosine).

    rank(v) = (1-d)·base(v) + d·(Σ_{u→v} rank(u)·frac(u,v)
              + dangling_mass·base(v))
    with base = 1/|S| on seeds, 0 elsewhere — dangling mass re-enters
    through the reset distribution, so Σ rank = 1 is preserved.

    Same plan economics as ``pagerank``: static links side partitioned
    once, only vertex state moves per iteration."""
    links = _prepare_links(edges)
    n_links = links.count()

    verts = _vertices(edges)
    has_dangling = bool(verts.filter("dangling").limit(1).count())
    s = seeds.select(F.col(seeds.columns[0]).alias("vid")).distinct()
    flagged = verts.join(s.withColumn("_s", F.lit(True)), "vid", "left").persist()
    # normalize over the seeds PRESENT IN THE GRAPH — a seed id with no
    # edges carries no mass anywhere, so counting it would silently scale
    # every rank down and break the Σ rank = 1 invariant
    n_s = flagged.filter("_s").count()
    if n_s == 0:
        raise ValueError(
            "personalized_pagerank needs at least one seed that appears in the graph"
        )
    state = (
        flagged.select(
            "vid",
            F.when(F.col("_s"), F.lit(1.0 / n_s)).otherwise(F.lit(0.0)).alias("base"),
            "dangling",
        )
        .select("vid", "base", F.col("base").alias("rank"), "dangling")
        .persist()
    )
    flagged.unpersist()

    def step(state, _it):
        joined, dm_term = _with_dangling_mass(
            state.join(_gather(links, state), "vid", "left"), state, has_dangling
        )
        new_rank_expr = (1.0 - damping) * F.col("base") + F.lit(damping) * (
            F.coalesce(F.col("gathered"), F.lit(0.0)) + dm_term * F.col("base")
        )
        return joined.select(
            "vid",
            "base",
            new_rank_expr.alias("rank"),
            "dangling",
            F.abs(new_rank_expr - F.col("rank")).alias("delta"),
        )

    state = Superstep(spark, "personalized_pagerank", HARD_EVERY, check_every).run(
        state,
        step,
        max_iter,
        measure=_max_delta if tol > 0 else None,  # tol=0: fixed iterations
        done=lambda delta: delta < tol,
        static=(links,),
        edges=n_links,
        metrics=metrics,
    )
    return _ranks(state)


def personalized_pagerank_fixed(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PPR — the SQL-unrollable oracle slice, ranks rounded
    to 9 decimals for cross-engine hash stability."""
    r = personalized_pagerank(
        spark, edges, seeds, damping=damping, tol=0.0, max_iter=iterations
    )
    return r.select("vid", F.round("rank", 9).alias("rank"))
