"""Record the benchmark's figures for the current tree.

Runs every workload of ``BENCHMARK.json`` on ``--seeds`` untraced, then
once traced, one run at a time, and writes medians, quartiles and the
spread (quartile distance ÷ median) of each end-to-end metric plus the
traced per-layer ledger to ``--out``::

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/BASELINE.json

A later change compares its own run of this script against the file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def one_run(spec: dict, workload: str, seed: int, trace: int) -> tuple:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=180, check=False)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit "
                           f"{proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", help="comma-separated subset")
    p.add_argument("--no-trace", action="store_true")
    p.add_argument("--out", type=Path)
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out: dict = {}
    for wl in names:
        per_metric: dict[str, list[float]] = {}
        runs = []
        for seed in args.seeds:
            res, rep, wall = one_run(spec, wl, seed, 0)
            runs.append({"seed": seed, "wall_s": wall,
                         "correct": res["correct"],
                         "attempted": res["attempted"],
                         "failed": res["failed"], "report": rep})
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            print(wl, seed, f"{wall:.1f}s", res["correct"],
                  {k: round(v["value"], 3)
                   for k, v in res["metrics"].items()}, flush=True)
        entry = {"end_to_end": {k: spread(v)
                                for k, v in per_metric.items()},
                 "runs": runs}
        for k, s in entry["end_to_end"].items():
            flag = "" if k == "setup_s" or s["spread"] < bounds[k] / 3 \
                else "  <-- above a third of its bound"
            print(f"  {wl} {k}: median {s['median']:.4g} spread "
                  f"{s['spread']:.4f} (bound {bounds[k]}){flag}")
        if not args.no_trace:
            res, rep, wall = one_run(spec, wl, args.seeds[0], 1)
            entry["traced"] = {"seed": args.seeds[0], "wall_s": wall,
                               "correct": res["correct"],
                               "metrics": rep["metrics"]}
            print(wl, "traced", f"{wall:.1f}s", res["correct"], flush=True)
        out[wl] = entry
    if args.out:
        args.out.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
