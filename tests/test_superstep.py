"""Contract of the superstep runner (plans/superstep.py) on a synthetic
step: a counter column over a 10-row table, no graph."""

import warnings

import pytest
from pyspark.sql import functions as F

from graphanalytics_spark.plans.superstep import IterationMetrics, Superstep


def _counter(spark, limit):
    """(seed, step, seen): each step raises every row's counter by one
    until it reaches ``limit``; ``seen`` records (iteration, whether the
    step's input state was read back from a hard parquet reset)."""
    seed = spark.range(10).select("id", F.lit(0).alias("c")).persist()
    seen = []

    def step(state, it):
        seen.append((it, bool(state.inputFiles())))
        return state.select(
            "id",
            F.least(F.col("c") + 1, F.lit(limit)).alias("c"),
            (F.col("c") < limit).alias("changed"),
        )

    return seed, step, seen


class _Saves:
    """Checkpointer stand-in: records every maybe_save call."""

    def __init__(self):
        self.calls = []

    def maybe_save(self, iteration, state, metric):
        counters = {r["c"] for r in state.collect()}
        self.calls.append((iteration, state.columns, counters, metric))


def _changed(checked, seen):
    def measure(state):
        checked.append(seen[-1][0])
        return float(state.filter("changed").count())

    return measure


def test_truncated_run_cadence_saves_and_metrics(spark):
    seed, step, seen = _counter(spark, limit=100)
    static = spark.range(3).persist()
    checked, saves, metrics = [], _Saves(), IterationMetrics()
    loop = Superstep(spark, "counter", hard_every=3, check_every=2)
    with pytest.warns(RuntimeWarning, match=r"counter stopped at max_rounds=7"):
        out = loop.run(
            seed, step, 7, cap="max_rounds", measure=_changed(checked, seen),
            static=(static,), edges=10, metrics=metrics, checkpointer=saves,
            snapshot=lambda s: s.select("id", "c"),
        )
    # stop test on every check_every-th iteration and on the last one
    assert checked == [2, 4, 6, 7]
    # hard parquet reset after iterations 3 and 6: the next step reads it
    assert seen == [(1, False), (2, False), (3, False), (4, True),
                    (5, False), (6, False), (7, True)]
    assert not out.inputFiles()  # iteration 7's state is a localCheckpoint
    assert [(it, cols, c) for it, cols, c, _ in saves.calls] == [
        (it, ["id", "c"], {it}) for it in range(1, 8)
    ]
    assert [m for *_, m in saves.calls] == [None, 10.0, None, 10.0, None, 10.0, 10.0]
    assert metrics is loop.metrics and metrics.iterations == 7
    assert [r["delta"] for r in metrics.rows] == [m for *_, m in saves.calls]
    assert metrics.total_edges_traversed == 70
    assert metrics.converged is False
    # the runner releases the seed state and the static side
    assert not seed.is_cached and not static.is_cached


@pytest.mark.parametrize("quiet_rounds, stop_at", [(1, 4), (2, 5)])
def test_converged_run_stops_after_quiet_rounds(spark, quiet_rounds, stop_at):
    # rounds 1-3 raise every counter to the limit 3; round 4 changes nothing
    seed, step, seen = _counter(spark, limit=3)
    checked = []
    loop = Superstep(spark, "counter", hard_every=8, quiet_rounds=quiet_rounds)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = loop.run(seed, step, 10, measure=_changed(checked, seen))
    assert checked == list(range(1, stop_at + 1))
    assert [r["delta"] for r in loop.metrics.rows] == [10.0] * 3 + [0.0] * (stop_at - 3)
    assert loop.metrics.iterations == stop_at and loop.metrics.converged is True
    assert {r["c"] for r in out.collect()} == {3}


def test_quiet_rounds_must_be_consecutive(spark):
    # a busy check between two quiet ones restarts the count
    seed, step, _ = _counter(spark, limit=100)
    script = iter([0.0, 5.0, 0.0, 0.0, 0.0])
    loop = Superstep(spark, "counter", hard_every=8, quiet_rounds=2)
    loop.run(seed, step, 5, measure=lambda state: next(script))
    assert loop.metrics.iterations == 4 and loop.metrics.converged is True


def test_fixed_iteration_run_never_warns(spark):
    seed, step, seen = _counter(spark, limit=100)
    loop = Superstep(spark, "counter", hard_every=2, check_every=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = loop.run(seed, step, 3)
    assert [r["delta"] for r in loop.metrics.rows] == [None] * 3
    assert loop.metrics.converged is True
    assert [hard for _, hard in seen] == [False, False, True]
    assert {r["c"] for r in out.collect()} == {3}


def test_warn_false_records_truncation_silently(spark):
    seed, step, seen = _counter(spark, limit=100)
    loop = Superstep(spark, "counter", hard_every=8, warn=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        loop.run(seed, step, 2, measure=_changed([], seen))
    assert loop.metrics.iterations == 2 and loop.metrics.converged is False
