"""The benchmark's workloads: which engine calls one pass makes, in order,
and how each call's output is checked.

A call's ``run`` is the timed part: one call into a layer's public
function plus the action that materializes its result on the driver. Its
``check`` runs after the clock stops and compares that result with an
answer computed without the engine (answers.py). A call's name
(``pagerank``, ``knn``, ...) prefixes its per-layer metrics and its Spark
job group, so the traced run can attribute Spark work to it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import answers
import inputs

# PageRank, checkpointed run: snapshot every 4 iterations, interrupted
# after the snapshot at iteration 4 (mid-run: the full run takes 8 here).
# RESUME_AT is even, so the resumed run tests convergence on the same
# iterations as an uninterrupted run (the stop test runs every 2) and must
# reproduce its ranks.
CKPT_EVERY = 4
RESUME_AT = 4
# PageRank's tolerance, iteration cap and stop-test cadence (the engine's
# default check_every): a run must stop exactly where power iteration
# first passes its stop test, so a run that stops early fails its check
PR_TOL = 1e-6
PR_MAX_ITER = 100
PR_CHECK_EVERY = 2
# Louvain caps (max_phases, max_rounds_per_phase). bench.py's 5 x 8 runs
# 40 rounds at ~2.5 s each on the repo graph, longer than a whole run may
# take, so repo_links runs one phase of at most 2 rounds (the contraction
# after it included); long_chain, run by hand, keeps bench.py's caps.
REPO_LOUVAIN = (1, 2)
CHAIN_LOUVAIN = (5, 8)
TARGET = np.random.default_rng(13).normal(size=64)


@dataclass
class Call:
    op: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


class TimedCheckpoints:
    """Pass-through for ``CheckpointManager`` that times each snapshot
    and sizes it on disk (the plans.checkpoint layer's counters)."""

    def __init__(self, manager):
        self.manager = manager
        self.saves = 0
        self.save_s = 0.0
        self.bytes = 0

    def maybe_save(self, iteration, state, metric):
        t0 = time.perf_counter()
        path = self.manager.maybe_save(iteration, state, metric)
        if path is not None:
            self.save_s += time.perf_counter() - t0
            self.saves += 1
            self.bytes += sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(path)
                for f in files
            )
        return path

    def latest(self):
        return self.manager.latest()

    def load(self, iteration=None):
        return self.manager.load(iteration)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, paths: dict, work: str, cache: str):
        self.paths = paths
        self.work = work
        self.cache = cache
        # per-call counters the traced run reports next to Spark's own
        self.iterations: dict[str, int] = {}
        self.checkpoints: list[TimedCheckpoints] = []
        self.edges_traversed = 0

    def answers(self) -> None:
        """Compute the independent answers (outside timing)."""

    def scan(self, spark) -> None:
        """Read the inputs and run one action over each (part of set-up)."""

    def calls(self, spark, tag: str) -> list[Call]:
        raise NotImplementedError


def _labels_equal(got: pd.DataFrame, col: str, want: dict) -> bool:
    return len(got) == len(want) and dict(zip(got["vid"], got[col])) == want


class RepoLinks(Workload):
    """Repository files → link graph → the iterative operators."""

    name = "repo_links"
    ops = (
        "ingest", "pagerank", "resume", "components", "labelprop", "triangles",
        "similar", "louvain",
    )

    def answers(self):
        self.want_edges = answers.ingest_edges(self.paths["repos"], self.work)
        canon = answers.canonical(self.want_edges)
        self.want_canon = canon
        self.identity_q = _identity_q(canon)
        self.want_cc = answers.components_uf(canon)
        self.want_lpa = answers.label_propagation(canon)
        self.want_tri = answers.triangles(canon)
        self.want_similar = answers.similar_jaccard(canon, k=5)
        self.pr_stop = answers.pagerank_stop(self.want_edges, PR_TOL, PR_CHECK_EVERY, PR_MAX_ITER)
        self._pr: dict[int, pd.Series] = {}

    def pagerank_answer(self, iterations: int) -> pd.Series:
        if iterations not in self._pr:
            self._pr[iterations] = answers.pagerank_np(self.want_edges, iterations)
        return self._pr[iterations]

    def scan(self, spark):
        self.repos = spark.read.parquet(self.paths["repos"])
        self.repos.count()

    def calls(self, spark, tag):
        from graphanalytics_spark import graph, ingest
        from graphanalytics_spark.operators import components, labelprop, pagerank, triangles
        from graphanalytics_spark.plans.checkpoint import CheckpointManager

        g = {}  # tables handed from one call to the next within the pass

        def run_ingest():
            edges, _dim = ingest.build_edges(self.repos)
            g["edges"] = edges.persist()
            g["canon"] = graph.canonicalize(g["edges"]).persist()
            return g["edges"].toPandas(), g["canon"].toPandas()

        def check_ingest(out):
            e, c = out
            return answers.same_rows(e, self.want_edges, ["src", "dst", "weight"]) and (
                answers.same_rows(c, self.want_canon, ["src", "dst", "weight"])
            )

        def run_pagerank():
            m = pagerank.IterationMetrics()
            ranks = pagerank.pagerank(
                spark, g["edges"], tol=PR_TOL, max_iter=PR_MAX_ITER, metrics=m,
                check_every=PR_CHECK_EVERY,
            )
            out = ranks.toPandas()
            self.iterations["pagerank"] = m.iterations
            self.edges_traversed = m.total_edges_traversed
            g["ranks"] = out
            return out, m.iterations

        def check_pagerank(out):
            ranks, iters = out
            return iters == self.pr_stop and answers.same_ranks(
                ranks, self.pagerank_answer(iters)
            )

        def run_resume():
            root = os.path.join(self.work, f"checkpoints-{tag}")
            shutil.rmtree(root, ignore_errors=True)
            ckpt = TimedCheckpoints(CheckpointManager(spark, root, every=CKPT_EVERY))
            self.checkpoints.append(ckpt)
            first = pagerank.IterationMetrics()
            # the interrupted run: stops at RESUME_AT, short of convergence
            pagerank.pagerank(
                spark, g["edges"], tol=PR_TOL, max_iter=RESUME_AT,
                metrics=first, checkpointer=ckpt, check_every=PR_CHECK_EVERY,
            )
            lineage = ckpt.latest()
            state, _ = ckpt.load(lineage["iteration"])
            second = pagerank.IterationMetrics()
            out = pagerank.pagerank(
                spark, g["edges"], tol=PR_TOL, max_iter=PR_MAX_ITER - RESUME_AT,
                metrics=second, initial_state=state, checkpointer=ckpt,
                check_every=PR_CHECK_EVERY,
            ).toPandas()
            shutil.rmtree(root, ignore_errors=True)
            return out, first.iterations, lineage["iteration"], second.iterations

        def check_resume(out):
            ranks, first_iters, resumed_from, more = out
            if first_iters != RESUME_AT or resumed_from != RESUME_AT:
                return False
            if RESUME_AT + more != self.pr_stop:
                return False
            if not answers.same_ranks(ranks, self.pagerank_answer(RESUME_AT + more)):
                return False
            straight = g.get("ranks")
            return straight is None or answers.same_ranks(
                ranks, straight.set_index("vid")["rank"], rtol=1e-9
            )

        def run_components():
            m = pagerank.IterationMetrics()
            out = components.connected_components(spark, g["canon"], metrics=m).toPandas()
            self.iterations["components"] = m.iterations
            return out

        def run_labelprop():
            m = pagerank.IterationMetrics()
            out = labelprop.label_propagation(spark, g["canon"], metrics=m).toPandas()
            self.iterations["labelprop"] = m.iterations
            return out

        def run_similar():
            return graph.similar_vertices(g["canon"], k=5).toPandas()

        def run_louvain():
            return _louvain(spark, g["canon"], REPO_LOUVAIN, self.iterations)

        return [
            Call("ingest", run_ingest, check_ingest),
            Call("pagerank", run_pagerank, check_pagerank),
            Call("resume", run_resume, check_resume),
            Call("components", run_components,
                 lambda out: _labels_equal(out, "component", self.want_cc)),
            Call("labelprop", run_labelprop,
                 lambda out: _labels_equal(out, "label", self.want_lpa)),
            Call("triangles",
                 lambda: int(triangles.triangle_count(spark, g["canon"]).first()[0]),
                 lambda n: n == self.want_tri),
            Call("similar", run_similar,
                 lambda out: answers.same_rows(
                     out, self.want_similar, ["src", "dst", "common", "sim"], digits=8)),
            Call("louvain", run_louvain,
                 lambda out: _modularity_matches(out, self.want_canon, self.identity_q)),
        ]


class LongChain(Workload):
    """A long path of 4-cliques: the round count, not the cost per round,
    sets the time. Not in BENCHMARK.json (one pass costs more than a run
    may take); run by hand, see NOTES.md."""

    name = "long_chain"
    ops = ("components", "louvain")

    def answers(self):
        self.edges_pdf = pd.read_parquet(self.paths["edges"])
        self.want_cc = answers.components_uf(self.edges_pdf)
        self.identity_q = _identity_q(self.edges_pdf)

    def scan(self, spark):
        self.edges = spark.read.parquet(self.paths["edges"])
        self.edges.count()

    def calls(self, spark, tag):
        from graphanalytics_spark.operators import components, pagerank

        def run_components():
            # at its defaults: the truncation of a long-diameter graph shows
            m = pagerank.IterationMetrics()
            out = components.connected_components(spark, self.edges, metrics=m).toPandas()
            self.iterations["components"] = m.iterations
            return out

        return [
            Call("components", run_components,
                 lambda out: _labels_equal(out, "component", self.want_cc)),
            Call("louvain",
                 lambda: _louvain(spark, self.edges, CHAIN_LOUVAIN, self.iterations),
                 lambda out: _modularity_matches(out, self.edges_pdf, self.identity_q)),
        ]


def _identity_q(edges: pd.DataFrame) -> float:
    vids = set(edges["src"]) | set(edges["dst"])
    return answers.modularity(edges, {v: v for v in vids})


def _louvain(spark, edges, caps, iterations: dict):
    """Louvain's communities and the modularity it reported per phase."""
    from graphanalytics_spark.operators import louvain

    phases: list = []
    out = louvain.louvain(
        spark, edges, max_phases=caps[0], max_rounds_per_phase=caps[1], metrics=phases
    ).toPandas()
    iterations["louvain"] = sum(p["rounds"] for p in phases)
    return out, [p["Q"] for p in phases]


def _modularity_matches(out, edges: pd.DataFrame, identity_q: float) -> bool:
    labels, phase_qs = out
    got = dict(zip(labels["vid"], labels["community"]))
    vids = set(edges["src"]) | set(edges["dst"])
    return set(got) == vids and abs(
        answers.modularity(edges, got) - max([identity_q] + phase_qs)
    ) < 1e-9


class CorpusDedup(Workload):
    """Documents and embeddings through the training-data functions."""

    name = "corpus_dedup"
    ops = ("corpus_clean", "minhash", "knn")

    def answers(self):
        # the seed only shuffles rows and the oracle SQL is relational, so
        # one answer holds for every seed: it is computed once from the
        # unshuffled tables and kept with the cached inputs
        docs, emb = (os.path.join(inputs.DATA, f"{t}.parquet") for t in ("documents", "embeddings"))
        d = os.path.join(self.cache, "corpus_dedup", "answers")

        def kept(name, build):
            return pd.read_parquet(inputs.cached(os.path.join(d, f"{name}.parquet"), build))

        self.want_clean = kept("corpus_clean", lambda: answers.corpus_clean(docs))
        self.want_pairs = kept("minhash", lambda: answers.minhash_pairs(docs))
        self.want_knn = kept("knn", lambda: answers.knn_join(emb, k=3))
        self.want_topk = answers.cosine_topk(
            pd.read_parquet(self.paths["embeddings"]), TARGET, k=20
        )

    def scan(self, spark):
        self.docs = spark.read.parquet(self.paths["documents"])
        self.emb = spark.read.parquet(self.paths["embeddings"])
        self.docs.count()
        self.emb.count()

    def calls(self, spark, tag):
        from graphanalytics_spark.functions import dedup, similarity
        from graphanalytics_spark.functions.pipeline import corpus_clean

        def run_knn():
            knn = similarity.knn_join_lsh(spark, self.emb, self.emb, k=3, exclude_self=True)
            top = similarity.cosine_topk(spark, self.emb, TARGET.tolist(), k=20)
            return knn.toPandas(), top.toPandas()

        def check_knn(out):
            knn, top = out
            return _close_ranking(knn, self.want_knn, ["lid", "rid", "rn"]) and (
                _close_ranking(top, self.want_topk, ["vec_id"])
            )

        return [
            Call("corpus_clean",
                 lambda: corpus_clean(spark, self.docs, lang="en", min_quality=0.88).toPandas(),
                 lambda out: answers.same_rows(
                     out, self.want_clean, ["doc_id", "lang_pred", "quality"], digits=6)),
            Call("minhash",
                 lambda: dedup.minhash_lsh_pairs(spark, self.docs, num_perm=16, bands=4).toPandas(),
                 lambda out: answers.same_rows(out, self.want_pairs, ["doc_a", "doc_b"])),
            Call("knn", run_knn, check_knn),
        ]


def _close_ranking(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    """Same ranked ids; similarities equal to within float summation-order
    noise (the engine and DuckDB add the dot product in different orders)."""
    if len(got) != len(want):
        return False
    a = got.sort_values(keys).reset_index(drop=True)
    b = want.sort_values(keys).reset_index(drop=True)
    return all((a[k].to_numpy() == b[k].to_numpy()).all() for k in keys) and bool(
        np.allclose(a["sim"].to_numpy(), b["sim"].to_numpy(), rtol=0, atol=2e-8)
    )


WORKLOADS = {w.name: w for w in (RepoLinks, CorpusDedup, LongChain)}
