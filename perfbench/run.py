"""graphanalytics_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload repo_links --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. The run generates the workload's
inputs from ``--seed`` (cached under ``.perfbench/cache``), computes the
independent answers, starts the engine's SparkSession twice, each time
in a new JVM (``setup_s``, the median, is a user's cold start), then makes
timed closed-loop passes over the workload's calls, one call at a time,
until ``--seconds`` have passed (always at least one whole pass; ``pass_s``
is the median). Every call's output is checked.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the same passes with the Spark event log on and reports the per-layer
metrics, reduced from the log by job group (one group per call).

The last line of stdout is the JSON result; lines before it, starting
with ``#``, show the host settings and each call's wall and check result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 2
FAMILIES = (
    "wall_s", "jobs", "tasks", "busy_frac", "driver_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "output_bytes", "exchanges",
)
ITERATIVE = ("pagerank", "components", "labelprop", "louvain")


def host_settings(run_dir: str) -> dict:
    """Size the engine to this host and keep its scratch in the checkout.
    ``session.py`` would otherwise default to 32 cores and a 24g heap."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_mb // 4))
    return {
        "cpus": cpus,
        "heap": f"{heap_mb}m",
        "local_dir": os.path.join(run_dir, "spark-local"),
        "trunc_dir": os.path.join(run_dir, "truncate"),
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "event_dir": os.path.join(run_dir, "events"),
        "warehouse": os.path.join(run_dir, "warehouse"),
    }


def apply_env(h: dict) -> None:
    for d in ("local_dir", "trunc_dir", "tmp_dir", "event_dir", "warehouse"):
        os.makedirs(h[d], exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(h["cpus"]),
            "SPARK_LOCAL_DIRS": h["local_dir"],
            "SPARK_GRAFT_LOCAL_DIR": h["local_dir"],
            "SPARK_GRAFT_TRUNC_DIR": h["trunc_dir"],
            # tmpfs scratch would live outside the checkout
            "SPARK_GRAFT_TMPFS": "0",
            "SPARK_GRAFT_DRIVER_MEM": h["heap"],
            "TMPDIR": h["tmp_dir"],
            # every JVM (the launcher's too): temp files in the checkout and
            # no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={h['tmp_dir']}",
        }
    )


def spark_conf(h: dict, trace: bool) -> dict:
    conf = {"spark.sql.warehouse.dir": h["warehouse"]}
    if trace:
        # Spark 4.1 compresses the log with zstd by default; no Python
        # zstd module is available to read it back
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + h["event_dir"],
            }
        )
    return conf


def java_peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of the JVM pyspark launched (the gateway process
    is the ``java`` process itself)."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() != "java":
            raise RuntimeError(f"process {pid} is not the JVM")
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM:")) / 1024.0


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM that pyspark launched and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Py4JError:  # the JVM may already be gone; the wait below decides
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_pass(spark, wl, pass_no: int, log: list) -> float:
    """One pass over the workload's calls; returns the summed call walls
    (output checks run between calls, off the clock)."""
    sc = spark.sparkContext
    wl.checkpoints.clear()
    pass_s = 0.0
    for call in wl.calls(spark, f"p{pass_no}"):
        group = f"{call.op}@p{pass_no}"
        sc.setJobGroup(group, group)
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            out = call.run()
            error = None
        except Exception:
            out, error = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        end_ms = time.time() * 1000
        pass_s += wall
        sc.setLocalProperty("spark.jobGroup.id", None)
        if error is None:
            try:
                ok = bool(call.check(out))
            except Exception:
                ok, error = False, traceback.format_exc()
        else:
            ok = False
        if error:
            print(error, file=sys.stderr)
        log.append(
            {"op": call.op, "group": group, "pass": pass_no, "wall_s": wall,
             "start_ms": start_ms, "end_ms": end_ms, "ok": ok}
        )
        print(f"# call {wl.name} pass={pass_no} {call.op:<12} {wall:9.4f} s  "
              f"{'ok' if ok else 'FAILED'}", flush=True)
    spark.catalog.clearCache()
    return pass_s


def layer_metrics(wl, log, stats, cpus, pass_s, rss_mb, all_ops) -> dict:
    from eventlog import GroupStats

    v = {f"{op}.{fam}": 0.0 for op in all_ops for fam in FAMILIES}
    for op in ITERATIVE:
        v[f"{op}.iterations"] = v[f"{op}.jobs_per_iter"] = 0.0
    last = max(r["pass"] for r in log)
    for rec in (r for r in log if r["pass"] == last):
        s = stats.get(rec["group"], GroupStats())
        op, wall = rec["op"], rec["wall_s"]
        v.update(
            {
                f"{op}.wall_s": wall,
                f"{op}.jobs": s.jobs,
                f"{op}.tasks": s.tasks,
                f"{op}.busy_frac": s.run_ms / (wall * 1000 * cpus),
                f"{op}.driver_s": s.driver_ms(rec["start_ms"], rec["end_ms"]) / 1000,
                f"{op}.shuffle_read_bytes": s.shuffle_read_bytes,
                f"{op}.shuffle_write_bytes": s.shuffle_write_bytes,
                f"{op}.output_bytes": s.output_bytes,
                f"{op}.exchanges": s.exchanges,
            }
        )
        if op in ITERATIVE and wl.iterations.get(op):
            v[f"{op}.iterations"] = wl.iterations[op]
            v[f"{op}.jobs_per_iter"] = s.jobs / wl.iterations[op]
    v["pagerank.edges_per_s"] = (
        wl.edges_traversed / v["pagerank.wall_s"] if v["pagerank.wall_s"] else 0.0
    )
    v["checkpoint.saves"] = sum(c.saves for c in wl.checkpoints)
    v["checkpoint.save_s"] = sum(c.save_s for c in wl.checkpoints)
    v["checkpoint.bytes"] = sum(c.bytes for c in wl.checkpoints)
    v["traced.pass_s"] = pass_s
    v["spark.jvm_peak_rss_mb"] = rss_mb
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("graphanalytics_spark/__init__.py", "__spark_entry__.py", "tests/oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a source checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    h = host_settings(run_dir)
    apply_env(h)
    print(f"# host master=local[{h['cpus']}] shuffle_partitions={h['cpus']} "
          f"driver_heap={h['heap']} SPARK_GRAFT_CPUS={h['cpus']} "
          f"SPARK_LOCAL_DIRS={os.path.relpath(h['local_dir'], ROOT)} "
          f"trace={args.trace}", flush=True)
    try:
        return run(args, spec, h, run_dir, inputs, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec, h, run_dir, inputs, workloads) -> int:
    from graphanalytics_spark.session import get_spark

    import eventlog

    cache = os.path.join(WORK, "cache")
    paths = inputs.GENERATORS[args.workload](cache, args.seed)
    wl = workloads.WORKLOADS[args.workload](paths, run_dir, cache)
    wl.answers()

    conf = spark_conf(h, bool(args.trace))
    spark, setup_s = None, []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                # every set-up is cold: a new JVM, as a user's first call sees
                spark.stop()
                spark = None
                stop_jvm()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=h["cpus"],
                              shuffle_partitions=h["cpus"], extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            wl.scan(spark)
            setup_s.append(time.perf_counter() - t0)

        log: list = []
        # no warm-up: the first pass runs in the JVM the last set-up started,
        # so it is a user's time to solution, JIT and Python workers included
        passes: list = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(run_pass(spark, wl, len(passes) + 1, log))
        app_id = spark.sparkContext.applicationId
        rss_mb = java_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    failed = sum(not r["ok"] for r in log)
    if args.trace:
        stats = eventlog.reduce_log(eventlog.find_log(h["event_dir"], app_id))
        all_ops = sorted({op for w in workloads.WORKLOADS.values() for op in w.ops})
        values = layer_metrics(wl, log, stats, h["cpus"], passes[-1], rss_mb, all_ops)
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "pass_s": statistics.median(passes),
            "ok_ops_frac": 1.0 - failed / len(log),
        }
        wanted = spec["end_to_end"]
    print(f"# setup_s runs: {' '.join(f'{s:.4f}' for s in setup_s)}; "
          f"passes: {' '.join(f'{p:.4f}' for p in passes)}; "
          f"failed ops: {failed} of {len(log)}", flush=True)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": len(log), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
