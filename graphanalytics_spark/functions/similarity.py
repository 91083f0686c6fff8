"""Cosine similarity top-K and approximate nearest neighbor search.

The reference's CosineSim product computes top-K cosine similarity of a
target vector against N population vectors, fanned across devices and
k-way-merged (/root/reference/cosinesim/src/cosinesim.cpp:589-680; CPU
oracle /root/reference/cosinesim/tests/cosinesim_test.cpp:128-177). Here:

- ``cosine_topk`` — exact brute force: dot/norm as built-in array
  expressions (``F.aggregate``/``F.zip_with``, JVM-side, no Python), then a
  global top-K. This is the oracle-backed baseline; at 100 TB it is one
  full scan with no shuffle except the final K-row reduction (Spark's
  TakeOrderedAndProject — exactly the reference's per-card top-K + k-way
  merge, chosen automatically).
- ``ann_lsh_topk`` — the scale path: random-hyperplane LSH buckets
  (SimHash for cosine); candidates share ≥1 band bucket with the target,
  then exact re-rank within candidates. Reduces the scan to the bucketed
  candidate set; the bucket table can be precomputed and stored
  partitioned-by-bucket so probes are partition-pruned scans.
- ``knn_join_lsh`` — all-pairs variant: bucket-join two embedding tables
  and re-rank per left row.

Similarities are rounded to 8 decimals before ranking so ordering (and the
driver's cross-engine value hash) is stable across summation orders.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _dot_norm_expr(col_a, col_b):
    """JVM-side dot product and norms via F.zip_with + F.aggregate —
    deterministic left-fold summation order."""
    prod = F.zip_with(col_a, col_b, lambda x, y: x * y)
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(col_a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(col_b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot, na, nb


def cosine_sim_col(col_a, col_b):
    """Cosine similarity column expression over two array<numeric> columns."""
    dot, na, nb = _dot_norm_expr(col_a, col_b)
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_norms(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector L2 norm (the reference's norm kernel,
    /root/reference/L1/include/hw/similarity/dense_similarity_int.hpp:781-860)."""
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return embeddings.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 8
        ).alias("norm"),
    )


def cosine_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    target: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-K by cosine similarity against a literal target vector.
    Returns (vec_id, sim) with sim rounded to 8 decimals; ties broken by
    vec_id asc (total order — required for deterministic K)."""
    tgt = F.array(*[F.lit(float(x)) for x in target])
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sim = F.round(cosine_sim_col(arr, tgt), 8)
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk_batch(
    spark: SparkSession,
    embeddings: DataFrame,
    targets: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_id: str = "target_id",
    target_vec: str = "target_embedding",
) -> DataFrame:
    """Top-K per target for a (small) table of target vectors — the
    reference plugin's batch cosine mode (one kernel pass matches many
    patient vectors, /root/reference/plugin/tigergraph/recomengine).

    Plan: broadcast the target table, cross-join against the population
    (each population row evaluates all targets in one scan), rank within
    target via a window. One population scan total, independent of the
    number of targets.
    """
    from pyspark.sql.window import Window

    t = targets.select(
        F.col(target_id).alias("target_id"),
        F.transform(F.col(target_vec), lambda x: x.cast("double")).alias("tv"),
    )
    pop = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("pv"),
    )
    scored = pop.crossJoin(F.broadcast(t)).select(
        "target_id",
        "vec_id",
        F.round(cosine_sim_col(F.col("pv"), F.col("tv")), 8).alias("sim"),
    )
    w = Window.partitionBy("target_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("target_id", "vec_id", "sim", "rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Sign-pattern bucket id from random hyperplanes, as a pure column
    expression: bit i = (v · h_i) >= 0."""
    bits = []
    for i, h in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in h])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def target_buckets_multiprobe(
    target: list[float],
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    multiprobe: int = 0,
) -> list[tuple[int, int]]:
    """Multi-probe bucket list: per band, the probe's own bucket plus the
    ``multiprobe`` buckets reached by flipping the sign bits the target is
    LEAST confident about (smallest |projection margin| — those are the
    planes a true neighbor most likely sits on the other side of; the
    classic multi-probe LSH perturbation order). Returns distinct
    (band, bucket) pairs, (multiprobe+1) per band — recall rises without
    adding bands or shrinking planes, and a persisted-index probe stays a
    partition-pruned read of (multiprobe+1)·n_bands directories."""
    tnp = np.asarray(target, dtype=float)
    out: list[tuple[int, int]] = []
    for band in range(n_bands):
        planes = _hyperplanes(len(target), n_planes, seed + band)
        proj = planes @ tnp
        base = int(sum((1 << i) for i in range(n_planes) if proj[i] >= 0))
        out.append((band, base))
        order = np.argsort(np.abs(proj), kind="stable")
        for i in order[: max(0, multiprobe)]:
            out.append((band, base ^ (1 << int(i))))
    # preserve order, drop duplicates
    seen: set[tuple[int, int]] = set()
    uniq = []
    for bb in out:
        if bb not in seen:
            seen.add(bb)
            uniq.append(bb)
    return uniq


def ann_band_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The ANN index relation: (vec_id, embedding: array<double>, band,
    bucket) — one row per (vector, band). Buckets are random-hyperplane
    sign patterns (SimHash for cosine), computed as pure column
    expressions in a single scan. This is the build side of the
    reference's population-load / match split
    (/root/reference/cosinesim/include/cosinesim.hpp:412-418).

    The per-vector hyperplane dot products are the expensive part, so an
    under-split input is spread across the session's cores first
    (plans/spread.py — no-op on well-split inputs)."""
    from graphanalytics_spark.plans.spread import spread

    embeddings = spread(embeddings, id_col)
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    entries = [
        F.struct(
            F.lit(band).alias("band"),
            lsh_bucket_expr(arr, _hyperplanes(dim, n_planes, seed + band)).alias(
                "bucket"
            ),
        )
        for band in range(n_bands)
    ]
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        arr.alias("embedding"),
        F.explode(F.array(*entries)).alias("bb"),
    ).select("vec_id", "embedding", "bb.band", "bb.bucket")


def cap_bucket_size(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket_size`` — the
    hot-bucket guard for every LSH pair generator. A bucket with B members
    emits O(B²) candidate pairs, so one degenerate bucket (near-zero or
    boilerplate-direction vectors all sharing a sign pattern) is quadratic
    in its population at corpus scale. Members of an over-cap bucket are
    near-duplicates of *everything* in it and belong to an exact-dedup or
    centroid pass, not pairwise verification. One extra window count, no
    extra shuffle (the window key is the join key the plan already
    exchanges on). None disables the guard (exact oracle parity)."""
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def embedding_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality: from schema metadata when a fixed-size arrow
    type carries it, else one driver probe of the first row (0 on empty
    input — callers must short-circuit)."""
    first = embeddings.select(vec_col).first()
    return len(first[0]) if first is not None and first[0] is not None else 0


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the ANN index partitioned by (band, bucket): a probe then
    reads only its ``n_bands`` matching partitions (~N/2^n_planes rows
    each) instead of the corpus — partition pruning does the candidate
    selection at the file-listing level. Rebuild cost is one corpus scan;
    embeddings are stored alongside so probes re-rank without a join back."""
    dim = embedding_dim(embeddings, vec_col)
    idx = ann_band_buckets(embeddings, dim, n_planes, n_bands, seed, vec_col, id_col)
    idx.write.mode("overwrite").partitionBy("band", "bucket").parquet(path)


def ann_probe(
    spark: SparkSession,
    index_path: str,
    target: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Probe a persisted ANN index: compute the target's per-band buckets
    driver-side, read ONLY the matching (band, bucket) partitions
    (partition-pruned scan), dedup candidates, exact cosine re-rank.
    The probe-side analog of the reference's matchTargetVector
    (/root/reference/cosinesim/include/cosinesim.hpp:497).
    ``multiprobe`` additionally reads the lowest-margin bit-flip buckets
    per band (see ``target_buckets_multiprobe``) — still a pruned read,
    (multiprobe+1)·n_bands partitions instead of n_bands."""
    tb = target_buckets_multiprobe(target, n_planes, n_bands, seed, multiprobe)
    idx = spark.read.parquet(index_path)
    cond = None
    for band, bucket in tb:
        c = (F.col("band") == band) & (F.col("bucket") == bucket)
        cond = c if cond is None else (cond | c)
    # distinct over (vec_id, embedding) instead of dropDuplicates(vec_id):
    # the index replicates the same embedding per band, so the row sets
    # are identical, but distinct has no first()-over-array agg buffer and
    # plans as a hash aggregate instead of Sort + SortAggregate
    cand = idx.filter(cond).select("vec_id", "embedding").distinct()
    return cosine_topk(spark, cand, target, k, "embedding", "vec_id")


def ann_lsh_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    target: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
) -> DataFrame:
    """One-shot approximate top-K: candidates = vectors sharing ≥1 of
    ``n_bands`` hyperplane-sign buckets with the target (plus, with
    ``multiprobe``, the lowest-margin bit-flip buckets per band); exact
    cosine re-rank within. Evaluates the bucket expressions inline (one
    corpus scan) — for repeated probes against a fixed corpus, build the
    index once with ``write_ann_index`` and use ``ann_probe`` so each
    probe is a partition-pruned read instead of a scan."""
    dim = len(target)
    tb = target_buckets_multiprobe(target, n_planes, n_bands, seed, multiprobe)
    by_band: dict[int, list[int]] = {}
    for band, bucket in tb:
        by_band.setdefault(band, []).append(bucket)
    cand_filter = None
    df = embeddings
    for band, buckets in by_band.items():
        planes = _hyperplanes(dim, n_planes, seed + band)
        bcol = f"_b{band}"
        df = df.withColumn(bcol, lsh_bucket_expr(F.col(vec_col), planes))
        cond = F.col(bcol).isin(buckets)
        cand_filter = cond if cand_filter is None else (cand_filter | cond)
    candidates = df.filter(cand_filter)
    return cosine_topk(spark, candidates, target, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
#
# Complements the LSH path above with the other classic ANN index family:
# partition the corpus into cells around centroids (IVF-Flat), probe the
# ``nprobe`` cells nearest the target, exact re-rank within. The reference's
# population-load / match split (/root/reference/cosinesim/include/
# cosinesim.hpp:412-418,497) maps to build (cells persisted, partitioned by
# cell) vs probe (partition-pruned read of nprobe cells).


def seed_centroids(
    embeddings: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic coarse-quantizer seeds: the ``n_cells`` vectors with
    the smallest ids, kept under their own ids as cell ids. Returns
    (cid, cv: array<double>) — a driver-broadcastable table."""
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        embeddings.select(F.col(id_col).alias("cid"), arr.alias("cv"))
        .orderBy("cid")
        .limit(n_cells)
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (score rounded to 8
    decimals; ties → smaller cid — a total order, so assignment is
    deterministic and cross-engine reproducible). One corpus scan against a
    broadcast centroid table. Returns (vec_id, embedding: array<double>,
    cell)."""
    arr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = embeddings.select(F.col(id_col).alias("vec_id"), arr.alias("embedding"))
    scored = e.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "cid",
        F.round(cosine_sim_col(F.col("embedding"), F.col("cv")), 8).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cell"))
    )


def lloyd_refine(
    spark: SparkSession,
    embeddings: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd k-means refinement of the coarse quantizer, fully declarative:
    assign (broadcast argmax) → recompute centroids as the element-wise
    member mean (posexplode + hash agg + re-assembly). Empty cells keep
    their previous centroid. Centroid means are rounded to 8 decimals each
    iteration so the refinement is deterministic under Spark's unordered
    partial aggregation. Returns the refined (cid, cv) table."""
    cent = centroids
    for _ in range(iters):
        asg = assign_cells(embeddings, cent, vec_col, id_col)
        means = (
            asg.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("x"), 8).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("mv")
            )
        )
        cent = (
            cent.join(means, cent.cid == means.cell, "left")
            .select("cid", F.coalesce("mv", "cv").alias("cv"))
        )
        # keep the centroid table collapsed: it is tiny (n_cells rows) and
        # feeds a broadcast next iteration
        cent = spark.createDataFrame(cent.collect(), cent.schema)
    return cent


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    lloyd_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Build and persist an IVF-Flat index: ``<path>/centroids`` (tiny) and
    ``<path>/cells`` partitioned by cell, so a probe's candidate fetch is a
    partition-pruned read of nprobe directories. The build is one corpus
    scan per Lloyd iteration plus one for the final assignment."""
    spark = embeddings.sparkSession
    cent = seed_centroids(embeddings, n_cells, vec_col, id_col)
    if lloyd_iters > 0:
        cent = lloyd_refine(spark, embeddings, cent, lloyd_iters, vec_col, id_col)
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    asg = assign_cells(embeddings, cent, vec_col, id_col)
    asg.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")


def _round_half_up(x: float, places: int) -> float:
    """HALF_UP rounding matching Spark's F.round — Python's round() is
    banker's (half-to-even), which can pick a different cell than the
    executor-side assign_cells rule on exact-half scores."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _nearest_cells(cent_rows, target: list[float], nprobe: int) -> list[int]:
    """Driver-side nprobe cell selection (centroid table is tiny), same
    rounding (HALF_UP, = F.round) + tie rules as assign_cells."""
    tnp = np.asarray(target, dtype=float)
    tn = float(np.sqrt(tnp @ tnp))
    scored = []
    for r in cent_rows:
        cv = np.asarray(r["cv"], dtype=float)
        nn = float(np.sqrt(cv @ cv))
        sim = float(tnp @ cv / (tn * nn)) if tn > 0 and nn > 0 else 0.0
        scored.append((_round_half_up(sim, 8), -int(r["cid"])))
    scored.sort(reverse=True)
    return [-ncid for _, ncid in scored[:nprobe]]


def ivf_probe(
    spark: SparkSession,
    index_path: str,
    target: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index: pick the ``nprobe`` nearest cells from
    the centroid table (driver-side — it is n_cells rows), read ONLY those
    cell partitions, exact cosine re-rank. At 100 TB a probe touches
    ~nprobe/n_cells of the corpus via partition pruning."""
    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    cells = _nearest_cells(cent_rows, target, nprobe)
    cand = spark.read.parquet(f"{index_path}/cells").filter(
        F.col("cell").isin(cells)
    )
    return cosine_topk(spark, cand, target, k, "embedding", "vec_id")


def ivf_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    target: list[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-shot IVF top-K without persistence (seed centroids, no Lloyd):
    deterministic end-to-end — seed cells, assignment, nprobe cell filter,
    exact re-rank — so the whole pipeline is SQL-expressible and
    driver-oracle-checkable. For repeated probes build the index once with
    ``write_ivf_index`` and use ``ivf_probe``."""
    cent = seed_centroids(embeddings, n_cells, vec_col, id_col)
    asg = assign_cells(embeddings, cent, vec_col, id_col)
    cells = _nearest_cells(cent.collect(), target, nprobe)
    cand = asg.filter(F.col("cell").isin(cells))
    return cosine_topk(spark, cand, target, k, "embedding", "vec_id")


def knn_join_lsh(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    left_vec: str = "embedding",
    left_id: str = "vec_id",
    right_vec: str = "embedding",
    right_id: str = "vec_id",
    exclude_self: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All-pairs approximate KNN join: for every left vector, the top-K
    right vectors by cosine among LSH candidates (sharing ≥1 band bucket).
    The corpus-vs-corpus analog of the reference's batch cosine mode run
    per population member (/root/reference/cosinesim/src/cosinesim.cpp:589-680).

    Plan: both sides bucketed with the SAME hyperplanes, equi-join on
    (band, bucket) — never a cross product; pair dedup, exact re-rank,
    window top-K per left id. Returns (lid, rid, sim, rn).

    Scale note: bucket-local pair generation is quadratic within a bucket;
    ``max_bucket_size`` caps it (see ``cap_bucket_size``) — each side's
    over-cap (band, bucket) groups are dropped before the join, bounding
    output at ``cap²`` pairs per bucket. ``exclude_self`` drops lid==rid
    pairs for self-join dedup use."""
    dim = embedding_dim(left, left_vec)
    if dim == 0:
        return left.sparkSession.createDataFrame(
            [], "lid long, rid long, sim double, rn int"
        )
    lb = cap_bucket_size(
        ann_band_buckets(left, dim, n_planes, n_bands, seed, left_vec, left_id),
        max_bucket_size,
    ).select(
        F.col("vec_id").alias("lid"), F.col("embedding").alias("lv"), "band", "bucket"
    )
    rb = cap_bucket_size(
        ann_band_buckets(right, dim, n_planes, n_bands, seed, right_vec, right_id),
        max_bucket_size,
    ).select(
        F.col("vec_id").alias("rid"), F.col("embedding").alias("rv"), "band", "bucket"
    )
    pairs = lb.join(rb, ["band", "bucket"]).select("lid", "lv", "rid", "rv")
    if exclude_self:
        pairs = pairs.filter(F.col("lid") != F.col("rid"))
    # Score BEFORE the pair dedup: dedup on rows still carrying both
    # embedding arrays plans as Sort + SortAggregate (first() over array
    # types has no mutable agg buffer), sorting every candidate pair's
    # full vector payload. A duplicate (lid, rid) — the same pair from
    # another shared band — carries the identical lv/rv, hence the
    # identical rounded sim, so scoring first and deduping the slim
    # (long, long, double) rows is result-identical and turns the dedup
    # into a hash aggregate; the ≤ n_bands extra dot products per pair
    # are cheap codegen (guide §2.3: shuffle/sort metadata, not payloads).
    scored = pairs.select(
        "lid",
        "rid",
        F.round(cosine_sim_col(F.col("lv"), F.col("rv")), 8).alias("sim"),
    ).dropDuplicates(["lid", "rid"])
    w = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("lid", "rid", "sim", "rn")
    )
