"""Benchmark entry point.

    python3 perfbench/run.py --workload pdf_steady --seed 1 --seconds 10 --trace 0

Runs one workload in a closed loop (one client, each pass waits for the
previous one) on ``local[k]``, checks every output against an oracle
that does not depend on the engine, prints each metric with its unit,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` turns on Spark's event log, adds the in-process kernel and
cold-import probes, and reports the per-layer metrics instead; a metric
of a layer the workload does not exercise reads 0.  The spans of a
traced run are written once, at the end, under ``.bench_work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from dataclasses import dataclass

import harness

WORKLOADS = ("pdf_steady", "pdf_cold_job")


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str
    size: str = "full"
    corrupt: bool = False

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    unit = lambda ms: {m["name"]: m["unit"] for m in ms}  # noqa: E731
    return unit(bench["end_to_end"]), unit(bench["per_layer"])


def run_workload(name: str, ctx: Context) -> dict:
    """Run one workload; returns the result line as a dict and prints the
    human-readable report before it."""
    import importlib

    e2e_units, layer_units = declared_metrics()
    module = importlib.import_module(name)
    spin = [harness.spin_s()]
    with harness.RssSampler() as rss:
        res = module.run(ctx)
    spin.append(harness.spin_s())

    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = rss.peak_tree_mb
    e2e["worker_peak_rss_mb"] = rss.peak_worker_mb
    if ctx.trace:
        values = dict.fromkeys(layer_units, 0.0)
        values.update(res["layers"])
        values["host.spin_s"] = harness.median(spin)
        values["trace.setup_s"] = e2e["setup_s"]
        values["trace.pass_s"] = e2e["pass_s"]
        units = layer_units
    else:
        values, units = e2e, e2e_units
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")

    attempted, failed = res["attempted"], res["failed"]
    rep = res["report"]
    print(f"workload {name} seed {ctx.seed} local[{rep['cores']}] closed loop, 1 client")
    print(f"composition {json.dumps(rep.get('composition'))}")
    for k, v in rep.items():
        if k not in ("composition", "cores"):
            print(f"  {k}: {v}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {e2e_units[k]}")
    print(f"  error_rate = {failed / attempted:.6g} ratio (failed {failed} of {attempted} operations)")
    if not ctx.trace:
        print(f"  host.spin_s = {harness.median(spin):.6g} s")
    if ctx.trace:
        for k in sorted(values):
            print(f"  {k} = {values[k]:.6g} {units[k]}")
        traces = os.path.join(harness.WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{name}-seed{ctx.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    p.add_argument("--corrupt-expected", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    work = harness.new_workdir(f"{args.workload}-{args.seed}")
    try:
        harness.prepare_env(work)
        import pdf_extract_spark  # noqa: F401 - fail fast when the program is missing

        ctx = Context(args.seed, args.seconds, bool(args.trace), work, args.size, args.corrupt_expected)
        line = run_workload(args.workload, ctx)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
