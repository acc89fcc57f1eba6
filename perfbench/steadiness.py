"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --seeds 1-10 --out .perfbench_out/steady.json
    python3 perfbench/steadiness.py --workloads live_reference_rate --seeds 1-5 \
        --traced-seeds 1-3

For every workload and end-to-end metric it prints the median and the
inter-quartile distance as a share of the median (quartiles from
``statistics.quantiles(values, n=4)``), the figure each metric's bound in
``BENCHMARK.json`` must stay three times above. With ``--traced-seeds``
it also runs traced and reports the tracing overhead: the traced runs'
median throughput minus the untraced one.
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
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOAD_NAMES  # noqa: E402
from perfbench.stats import quartile_spread  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    RUN_SECONDS = json.load(_f)["run_seconds"]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if not k.startswith(("state.", "patterns.", "spark.", "sink.", "sources."))),
          flush=True)
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        out[name] = {
            "median": statistics.median(vals),
            "spread": quartile_spread(vals) if len(vals) >= 2 and statistics.median(vals) else None,
            "values": vals,
        }
    out["wall_s"] = {"median": statistics.median(r["wall_s"] for r in runs),
                     "max": max(r["wall_s"] for r in runs)}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="Seed-to-seed spread of the benchmark's metrics.")
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOAD_NAMES))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default=None)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    report = {}
    for w in a.workloads:
        runs = [run_once(w, s, a.seconds, 0) for s in seeds(a.seeds)]
        report[w] = {"untraced": summarize(runs),
                     "failed": sum(r["failed"] for r in runs),
                     "attempted": sum(r["attempted"] for r in runs)}
        if a.traced_seeds:
            traced = summarize([run_once(w, s, a.seconds, 1) for s in seeds(a.traced_seeds)])
            report[w]["traced"] = traced
            report[w]["tracing_overhead"] = {
                "rows_per_s": traced["trace.rows_per_s"]["median"]
                - report[w]["untraced"]["rows_per_s"]["median"],
            }
    for w, r in report.items():
        print(w)
        for name, m in r["untraced"].items():
            if name != "wall_s":
                print(f"  {name:16s} median={m['median']:.4g} spread={m['spread']:.4f}")
        print(f"  wall_s median={r['untraced']['wall_s']['median']:.1f} max={r['untraced']['wall_s']['max']:.1f}")
        if "tracing_overhead" in r:
            print(f"  tracing overhead: {r['tracing_overhead']}")
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
