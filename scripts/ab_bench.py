"""Paired lakebench runs: the same seeds on two source trees, one run at
a time, and a per-metric verdict on the difference.

    python scripts/ab_bench.py BASE_TREE HEAD_TREE --workload cdc_ingest \\
        --seeds 1-10 [--seconds 25]

For each seed the script runs ``python3 lakebench/run.py`` once in each
tree, alternating which side goes first (seed 1 base first, seed 2 head
first, ...), so both trees meet the same host pressure. It reads each
run's last stdout line (the result JSON) and its stamp line (the host
steal over the timed loop), and takes the end-to-end metric names,
directions and bounds from ``HEAD_TREE/BENCHMARK.json``.

It prints every pair's values and steal, then for each metric: each
side's median and quartiles, how many pairs the head won, and whether
the median gap exceeds the base's interquartile range and the
metric's bound, and whether a gain claim is met: the head wins at
least 9 of every 10 pairs (ties count for neither side) and its
median is better than the base's by more than the base's
interquartile range. It exits non-zero if any run failed a check or
produced no result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

_STEAL_RE = re.compile(r"host steal ([0-9.]+)%")


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"``, ``"3"`` or ``"1,4,7-9"`` -> a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``tree``: its metric values, its
    failed-check count and the host steal of its timed loop."""
    proc = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"failed": 1, "metrics": {}, "steal": float("nan")}
    stamp = next((ln for ln in reversed(lines) if ln.startswith("# ")), "")
    steal = _STEAL_RE.search(stamp)
    return {
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "steal": float(steal.group(1)) if steal else float("nan"),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_tree")
    ap.add_argument("head_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=25)
    args = ap.parse_args(argv)
    with open(os.path.join(args.head_tree, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"base": args.base_tree, "head": args.head_tree}
    runs: dict[str, list[dict]] = {"base": [], "head": []}
    seeds = parse_seeds(args.seeds)
    for i, seed in enumerate(seeds):
        order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        for side in order:
            runs[side].append(
                run_once(sides[side], args.workload, seed, args.seconds)
            )
        b, h = runs["base"][-1], runs["head"][-1]
        values = " ".join(
            f"{m['name']}={b['metrics'].get(m['name'], float('nan')):.4g}"
            f"/{h['metrics'].get(m['name'], float('nan')):.4g}"
            for m in metrics
        )
        print(
            f"seed {seed} ({order[0]} first): base/head {values}; steal "
            f"{b['steal']:.2f}/{h['steal']:.2f}%; failed "
            f"{b['failed']}/{h['failed']}",
            flush=True,
        )
    print(f"\n{args.workload}, {len(seeds)} pairs (base -> head):")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [
            (b["metrics"][name], h["metrics"][name])
            for b, h in zip(runs["base"], runs["head"])
            if name in b["metrics"] and name in h["metrics"]
        ]
        if not pairs:
            print(f"  {name}: no values")
            continue
        base, head = [p[0] for p in pairs], [p[1] for p in pairs]
        bq1, bmed, bq3 = quartiles(base)
        hq1, hmed, hq3 = quartiles(head)
        wins = sum((h < b) if lower else (h > b) for b, h in pairs)
        # positive = head worse than base
        worse = (hmed - bmed) if lower else (bmed - hmed)
        rel = worse / bmed if bmed else 0.0
        # a gain claim holds when the head wins >= 9 of every 10 pairs
        # (ties count for neither side) and the median gap, in the
        # better direction, exceeds the base IQR
        claim = 10 * wins >= 9 * len(pairs) and -worse > bq3 - bq1
        print(
            f"  {name}: base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] -> head "
            f"{hmed:.4g} [{hq1:.4g}, {hq3:.4g}] "
            f"({abs(rel):.1%} {'worse' if rel > 0 else 'better'}); "
            f"head wins {wins}/{len(pairs)}; |gap| {abs(hmed - bmed):.4g} "
            f"{'>' if abs(hmed - bmed) > bq3 - bq1 else '<='} base IQR "
            f"{bq3 - bq1:.4g}; "
            + (f"WORSE beyond bound {m['bound']}" if rel > m["bound"]
               else f"within bound {m['bound']}")
            + f"; gain claim {'MET' if claim else 'not met'}"
        )
    failed = [
        (side, seed)
        for side in ("base", "head")
        for seed, r in zip(seeds, runs[side])
        if r["failed"] > 0
    ]
    if failed:
        print(f"runs with failed > 0: {failed}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
