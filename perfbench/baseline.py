"""Run the benchmark over many seeds and record medians and spreads.

    python3 perfbench/baseline.py --seeds 1-10 --trace-seeds 1-3 \\
        --out perfbench/baseline/this_commit.json

Runs ``run.py`` once per (workload, seed), one run at a time, with tracing
off, then once per trace seed with tracing on. For each metric it records
the median, the quartiles (``statistics.quantiles(n=4)``) and the spread
(q3 - q1) / median, plus every run's raw values and its failure counts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.monotonic() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["calls"] = [l for l in lines if l.startswith("# call")]
    result["elapsed_s"] = elapsed
    print(f"  {workload} seed {seed} trace {trace}: {elapsed:.1f} s, "
          f"failed {result['failed']} of {result['attempted']}", flush=True)
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": vals,
        }
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace-seeds", type=seeds, default=[])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    record = {"seeds": args.seeds, "trace_seeds": args.trace_seeds,
              "seconds": args.seconds, "workloads": {}}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in args.workloads:
        entry = record["workloads"][w] = {}
        for trace, picked in ((0, args.seeds), (1, args.trace_seeds)):
            if not picked:
                continue
            runs = [one_run(w, s, args.seconds, trace) for s in picked]
            key = "per_layer" if trace else "end_to_end"
            entry[key] = summarize(runs)
            entry[f"{key}_failed"] = [[r["failed"], r["attempted"]] for r in runs]
            entry[f"{key}_calls"] = {s: r["calls"] for s, r in zip(picked, runs)}
            entry[f"{key}_elapsed_s"] = [r["elapsed_s"] for r in runs]
            for name, m in entry[key].items():
                flag = ""
                if not trace and m["spread"] > bounds[name] / 3:
                    flag = f"  spread above a third of bound {bounds[name]}"
                print(f"{w:<13} {name:<28} median {m['median']:14.4f} {m['unit']:<8} "
                      f"spread {m['spread']:.4f}{flag}", flush=True)
        if "end_to_end" in entry and "per_layer" in entry:
            entry["tracing_overhead_s"] = (
                entry["per_layer"]["traced.pass_s"]["median"]
                - entry["end_to_end"]["pass_s"]["median"]
            )
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
