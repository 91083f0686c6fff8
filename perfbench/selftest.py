"""Self-test of the benchmark's own machinery (not of the engine):

1. input generators: the same seed gives byte-identical files; another
   seed gives different ids with the same edge, triangle and component
   counts (corpus_dedup: the same documents and vectors in another row order);
2. event-log reducer: a one-shuffle ``groupBy`` and a parquet write, each
   in its own job group, reduce to their known job, Exchange and byte
   counts.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _files(d: dict) -> list[str]:
    return [d[k] for k in sorted(d)]


def check_generators(tmp: str) -> None:
    import pandas as pd

    import answers
    import inputs

    a, b, c = (os.path.join(tmp, n) for n in ("a", "b", "c"))
    for name, gen in inputs.GENERATORS.items():
        one, again, other = gen(a, 1), gen(b, 1), gen(c, 2)
        for x, y in zip(_files(one), _files(again)):
            assert filecmp.cmp(x, y, shallow=False), f"{name}: seed 1 not reproducible"
        for x, y in zip(_files(one), _files(other)):
            assert not filecmp.cmp(x, y, shallow=False), f"{name}: seeds 1 and 2 agree"
        if name == "corpus_dedup":
            for f, col in (("documents", "text"), ("embeddings", "label")):
                p, q = pd.read_parquet(one[f]), pd.read_parquet(other[f])
                assert sorted(p[col]) == sorted(q[col]), f"{name}: {f} content differs"
            continue
        if name == "repo_links":
            e1 = answers.canonical(answers.ingest_edges(one["repos"], tmp))
            e2 = answers.canonical(answers.ingest_edges(other["repos"], tmp))
        else:
            e1, e2 = pd.read_parquet(one["edges"]), pd.read_parquet(other["edges"])
        shape = [
            (len(e), answers.triangles(e), len(set(answers.components_uf(e).values())))
            for e in (e1, e2)
        ]
        assert shape[0] == shape[1], f"{name}: {shape[0]} != {shape[1]}"
        assert set(zip(e1.src, e1.dst)) != set(zip(e2.src, e2.dst)), f"{name}: same ids"
        print(f"generators {name}: edges, triangles, components = {shape[0]}")


def check_reducer(tmp: str) -> None:
    import eventlog
    import run

    from graphanalytics_spark.session import get_spark

    h = run.host_settings(tmp)
    run.apply_env(h)
    spark = get_spark(app_name="perfbench-selftest", cpus=2, shuffle_partitions=2,
                      extra_conf=run.spark_conf(h, trace=True))
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setJobGroup("groupby", "groupby")
        spark.range(0, 10_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setJobGroup("write", "write")
        spark.range(100).write.parquet(os.path.join(tmp, "out"))
        app = sc.applicationId
    finally:
        spark.stop()
        run.stop_jvm()
    stats = eventlog.reduce_log(eventlog.find_log(h["event_dir"], app))
    g, w = stats["groupby"], stats["write"]
    # AQE runs the map stage as its own job, then the result job
    assert (g.jobs, g.exchanges) == (2, 1), (g.jobs, g.exchanges)
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.tasks >= 4 and g.run_ms > 0 and g.output_bytes == 0
    assert (w.jobs, w.exchanges, w.shuffle_write_bytes) == (1, 0, 0)
    assert w.output_bytes > 0
    print(f"reducer: groupby jobs={g.jobs} exchanges={g.exchanges} tasks={g.tasks} "
          f"shuffle={g.shuffle_write_bytes} B; write output={w.output_bytes} B")


def main() -> int:
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        check_generators(tmp)
        check_reducer(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("perfbench selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
