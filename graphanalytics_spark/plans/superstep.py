"""The superstep loop shared by the engine's single-state iterative operators.

PageRank (``pagerank``, ``pagerank_csr``, ``personalized_pagerank``),
connected components, label propagation, k-core, k-truss, SSSP, both
HyperBall sweeps and Louvain's move rounds are one skeleton: a static side
persisted once, a seed state, then per iteration

    step → lineage truncation → stop test → metrics → checkpoint

and the static side and seed unpersisted at the end. ``Superstep.run`` is
that skeleton; an operator supplies its static side and seed, ``step``,
the value its stop test measures and its hard-reset cadence.

Lineage: every iteration's state goes through ``LineageTruncator.truncate``
(plans/truncate.py) — a lazy localCheckpoint that the stop-test action
finalizes, plus a hard parquet reset every ``hard_every`` iterations.

Stop test: ``measure(state)`` is the loop's one driver action per checked
iteration (``it % check_every == 0`` or ``it == max_iter``); unchecked
iterations record ``delta=None``. A checked iteration is quiet when
``done(delta)``; the run stops after ``quiet_rounds`` consecutive quiet
checks.

Non-convergence contract: a run with a stop test that exhausts its cap
without passing it sets ``IterationMetrics.converged = False`` and raises
one ``RuntimeWarning`` naming the operator and the cap. Fixed-iteration
runs (no ``measure``) never warn and count as converged.
"""

from __future__ import annotations

import time
import warnings
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from graphanalytics_spark.plans.truncate import LineageTruncator


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle parallelism: the partition count an
    operator's static side is hash-partitioned to once per run."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def change_of(total: Callable[[DataFrame], float], seed: DataFrame):
    """(totals, measure) for a loop that stops when a total stops
    changing (rows surviving a peel, a sketch-estimate sum): ``totals``
    starts with ``total(seed)``, and ``measure`` appends each checked
    state's total and returns its |change| since the previous one."""
    totals = [total(seed)]

    def measure(state: DataFrame) -> float:
        totals.append(total(state))
        return float(abs(totals[-1] - totals[-2]))

    return totals, measure


@dataclass
class IterationMetrics:
    """Per-iteration convergence metrics — the engine's analog of the
    reference's per-phase FeatureLV records
    (louvainmod/include/xilinxlouvainInternal.h:235-253).
    ``delta`` is the stop test's measure (None on unchecked iterations);
    ``converged`` is False when the run hit its cap before its stop test
    passed."""

    rows: list = field(default_factory=list)
    converged: bool = False

    def add(self, iteration: int, delta: float | None, edges_traversed: int, wall_s: float):
        self.rows.append(
            {
                "iteration": iteration,
                "delta": delta,
                "edges_traversed": edges_traversed,
                "wall_s": wall_s,
            }
        )

    @property
    def total_edges_traversed(self) -> int:
        return sum(r["edges_traversed"] for r in self.rows)

    @property
    def iterations(self) -> int:
        return len(self.rows)


class Superstep:
    """One per operator call: owns the call's single ``LineageTruncator``,
    so truncations outside the loop (a seed state, Louvain's mapping and
    contracted graph) share its cadence and scratch directory.

    ``warn=False`` records non-convergence without warning (a capped
    Louvain phase still yields a valid partition). ``keep_snapshots``
    keeps every hard snapshot instead of deleting the superseded one —
    needed when an earlier state escapes the loop lazily (Louvain's
    per-phase labels)."""

    def __init__(
        self,
        spark: SparkSession,
        op: str,
        hard_every: int,
        check_every: int = 1,
        quiet_rounds: int = 1,
        warn: bool = True,
        keep_snapshots: bool = False,
    ):
        self.op = op
        self.check_every = max(1, check_every)
        self.quiet_rounds = quiet_rounds
        self.warn = warn
        self._stream = None if keep_snapshots else "state"
        self._truncator = LineageTruncator(spark, hard_every=hard_every)
        self.metrics = IterationMetrics()

    def truncate(self, df: DataFrame, iteration: int) -> DataFrame:
        return self._truncator.truncate(df, iteration, stream=self._stream)

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        max_iter: int,
        *,
        cap: str = "max_iter",
        measure: Callable[[DataFrame], float] | None = None,
        done: Callable[[float], bool] = lambda delta: delta == 0,
        static: tuple[DataFrame, ...] = (),
        edges: int | Callable[[], int] = 0,
        metrics: IterationMetrics | None = None,
        checkpointer=None,
        snapshot: Callable[[DataFrame], DataFrame] = lambda s: s,
    ) -> DataFrame:
        """Iterate ``state = truncate(step(state, it))`` for it = 1..max_iter
        and return the last state. ``cap`` names ``max_iter`` as the
        operator's caller knows it. ``edges`` (or a callable read after
        the stop test) fills the metrics' edges_traversed slot.
        ``checkpointer.maybe_save(it, snapshot(state), delta)`` runs every
        iteration; ``static`` and the seed state are unpersisted at the
        end."""
        self.metrics = metrics = metrics if metrics is not None else IterationMetrics()
        seed, quiet = state, 0
        for it in range(1, max_iter + 1):
            t0 = time.monotonic()
            state = self.truncate(step(state, it), it)
            delta = None
            if measure is not None and (it % self.check_every == 0 or it == max_iter):
                delta = measure(state)
                quiet = quiet + 1 if done(delta) else 0
            n_edges = edges() if callable(edges) else edges
            metrics.add(it, delta, n_edges, time.monotonic() - t0)
            if checkpointer is not None:
                checkpointer.maybe_save(it, snapshot(state), delta)
            if quiet >= self.quiet_rounds:
                break
        metrics.converged = measure is None or quiet >= self.quiet_rounds
        if not metrics.converged and self.warn:
            warnings.warn(
                f"{self.op} stopped at {cap}={max_iter} before its stop test "
                f"passed: the result is a truncated run's, not the fixed "
                f"point. Raise {cap}.",
                RuntimeWarning,
                stacklevel=3,
            )
        for df in (seed, *static):
            df.unpersist()
        return state
