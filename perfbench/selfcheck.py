"""Tiny-size self-check of the benchmark itself.

    python3 perfbench/selfcheck.py [workload ...]

For each workload, at a tiny input size: a plain run must pass its
correctness gate and emit exactly the end-to-end metrics of
``BENCHMARK.json``, all non-zero; a traced run must emit exactly the
per-layer metrics; and a run whose expected output was deliberately
corrupted must fail the gate.  Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pdf_steady", "pdf_cold_job")


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{workload} {extra}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    for w in argv or WORKLOADS:
        plain = _run(w, "--trace", "0")
        assert plain["correct"] and plain["failed"] == 0, (w, plain)
        assert set(plain["metrics"]) == e2e, (w, sorted(plain["metrics"]))
        zero = [k for k, v in plain["metrics"].items() if not v["value"] > 0]
        assert not zero, (w, zero)
        traced = _run(w, "--trace", "1")
        assert traced["correct"], (w, traced["failed"])
        assert set(traced["metrics"]) == layers, (w, sorted(set(traced["metrics"]) ^ layers))
        broken = _run(w, "--trace", "0", "--corrupt-expected")
        assert not broken["correct"] and broken["failed"] > 0, (w, broken)
        print(f"{w}: ok (plain, traced, corrupted expected output fails the gate)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
