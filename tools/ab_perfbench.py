"""A/B the benchmark across two checkouts: ``perfbench/run.py --trace 0``
once per seed in each, the two alternated, then medians and ratios.

    python tools/ab_perfbench.py PARENT CHANGE --workload clips --seeds 1 2 3 4

For odd seeds the parent runs first, for even seeds the change, so a
drift of the host over the session falls on both sides. Each run prints
its end-to-end metrics, ``failed``, its pass count and the pass wall
times perfbench writes to stderr. The pass count matters: ``pass_cpu_s``
is the median over the passes that fit in ``--seconds``, so with two
passes it is the mean of the cold and the warm pass, and with three it
is a warm pass. The summary gives, per metric, both medians, the
change/parent ratio, the parent's interquartile range and the number of
seed pairs in which the change is lower; then the same for the cold
(first) and warm (median of the later) pass walls.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys

METRICS = ("setup_s", "setup_cpu_s", "pass_cpu_s", "peak_pss_mb")
WALL_PREFIX = "pass wall seconds:"


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``checkout``; returns its metrics,
    ``failed`` and pass walls."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    walls = [
        ast.literal_eval(line[len(WALL_PREFIX):].strip())
        for line in proc.stderr.splitlines()
        if line.startswith(WALL_PREFIX)
    ]
    return {
        "metrics": {m: result["metrics"][m]["value"] for m in METRICS},
        "failed": result["failed"],
        "walls": walls[-1] if walls else [],
    }


def quartile_spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(name: str, parent: list[float], change: list[float]) -> str:
    mp, mc = statistics.median(parent), statistics.median(change)
    lower = sum(c < p for p, c in zip(parent, change))
    ratio = mc / mp if mp else float("nan")
    return (f"{name:>14}: parent {mp:9.3f}  change {mc:9.3f}  ratio {ratio:5.3f}  "
            f"parent IQR {quartile_spread(parent):7.3f}  change lower in {lower}/{len(parent)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for seed in args.seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds)
            runs[side].append(r)
            metrics = "  ".join(f"{m} {v:.3f}" for m, v in r["metrics"].items())
            print(f"{args.workload} seed {seed} {side}: {metrics}  failed {r['failed']}  "
                  f"passes {len(r['walls'])}  walls {r['walls']}", flush=True)
    print(f"\nmedians over seeds {args.seeds} ({args.workload}):")
    for m in METRICS:
        print(summarize(m, *([r["metrics"][m] for r in runs[s]] for s in ("parent", "change"))))
    for label, first, pick in (("cold pass wall", 1, lambda w: w[0]),
                               ("warm pass wall", 2, lambda w: statistics.median(w[1:]))):
        vals = {s: [pick(r["walls"]) for r in runs[s] if len(r["walls"]) >= first] for s in runs}
        if len(vals["parent"]) == len(vals["change"]) == len(args.seeds):
            print(summarize(label, vals["parent"], vals["change"]))
    print("pass counts: " + "  ".join(
        f"{s} {[len(r['walls']) for r in runs[s]]}" for s in ("parent", "change")))
    failed = sum(r["failed"] for s in runs for r in runs[s])
    print(f"failed operations over all runs: {failed}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
