"""Measure a baseline of the current tree and write it as JSON.

    python3 perfbench/baseline.py --seeds 1 2 3 4 5 6 7 8 9 10 --traced-seeds 1 \
        [--workloads pdf_steady ...] [--out perfbench/baseline.json]

For each workload it runs ``run.py`` once per seed with tracing off and
once per traced seed with tracing on, then records for every end-to-end
metric the median, the quartiles and the spread (interquartile range as
a share of the median, the figure the bounds in ``BENCHMARK.json`` are
checked against), the median and range of each per-layer metric, the
first traced run's input composition, the error rate with its base, the
tracing overhead (the traced runs' median ``setup_s`` and ``pass_s``
minus the untraced medians) and, for the cold job, the share of each
traced pass that its timed parts cover.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    line = json.loads(lines[-1])
    line["wall_s"] = time.perf_counter() - t
    line["composition"] = next(json.loads(x[len("composition "):]) for x in lines if x.startswith("composition "))
    print(f"{workload} seed={seed} trace={trace} wall={line['wall_s']:.1f}s correct={line['correct']}", flush=True)
    return line


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "n": len(values),
        "values": values,
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--traced-seeds", type=int, nargs="*", default=[])
    p.add_argument("--workloads", nargs="+")
    p.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]

    previous = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            previous = json.load(f).get("workloads", {})
    out = {
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
        "run_seconds": seconds,
        "workloads": previous,
    }
    for w in workloads:
        plain = [run_once(w, s, seconds, 0) for s in args.seeds]
        traced = [run_once(w, s, seconds, 1) for s in args.traced_seeds]
        rec = {
            "seeds": args.seeds,
            "traced_seeds": args.traced_seeds,
            "correct": all(r["correct"] for r in plain + traced),
            "error_rate": {
                "failed": sum(r["failed"] for r in plain),
                "attempted": sum(r["attempted"] for r in plain),
            },
            "run_wall_s": spread([r["wall_s"] for r in plain]),
            "end_to_end": {
                m["name"]: spread([r["metrics"][m["name"]]["value"] for r in plain])
                for m in bench["end_to_end"]
            },
        }
        rec["error_rate"]["value"] = rec["error_rate"]["failed"] / rec["error_rate"]["attempted"]
        if traced:
            layers = {
                m["name"]: statistics.median(r["metrics"][m["name"]]["value"] for r in traced)
                for m in bench["per_layer"]
            }
            rec["per_layer"] = layers
            rec["per_layer_range"] = {
                m["name"]: [f(r["metrics"][m["name"]]["value"] for r in traced) for f in (min, max)]
                for m in bench["per_layer"]
            }
            rec["composition"] = traced[0]["composition"]
            if layers["job.unaccounted_s"] > 0:
                # share of the traced pass that the timed parts cover
                rec["timed_coverage"] = [
                    1 - r["metrics"]["job.unaccounted_s"]["value"] / r["metrics"]["trace.pass_s"]["value"]
                    for r in traced
                ]
            rec["traced_run_wall_s"] = statistics.median(r["wall_s"] for r in traced)
            rec["tracing_overhead"] = {
                "setup_s": layers["trace.setup_s"] - rec["end_to_end"]["setup_s"]["median"],
                "pass_s": layers["trace.pass_s"] - rec["end_to_end"]["pass_s"]["median"],
            }
        out["workloads"][w] = rec
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
