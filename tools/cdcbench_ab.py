"""A/B of two checkouts on cdcbench: alternating pairs, medians, verdicts.

    python3 tools/cdcbench_ab.py --parent ../parent --change . \\
        --workload upsert_steady --workload fanout_many_tables --pairs 10 --seed 1

Runs ``python3 cdcbench/run.py --trace 0`` inside each checkout, one run at
a time, in ``--pairs`` pairs per workload.  Pair ``i`` runs the parent
first when ``i`` is even and the change first when it is odd, so drift on
the host falls on both sides alike.  Both sides run the same seed and the
same ``--seconds``.

For every end-to-end metric in the change's ``BENCHMARK.json`` it prints
each side's median and quartiles (``statistics.quantiles(n=4)``), the
pairs the change won (ties count for neither side) and a verdict:

* ``gain``: the change won at least nine tenths of the pairs and its
  median is better than the parent's by more than the distance between
  the parent's quartiles;
* ``worse``: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median);
* ``unresolved``: either side's interquartile range exceeds the bound (as
  a share of its median), so the runs spread too widely to tell, and not
  every run of the change reads better than every run of the parent;
* ``within bound``: none of the above.

A run that exits non-zero or reports ``correct: false`` is counted as
failed and left out of the statistics.  Every run's result is written to
``.cdcbench_work/ab-<workload>-s<seed>.json`` under the current directory.
The tool edits nothing in either checkout; cdcbench keeps its own work
files under each checkout's ``.cdcbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One cdcbench run in ``checkout``; its result line, or a failure."""
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"ok": False, "exit": out.returncode}
    res["ok"] = out.returncode == 0 and bool(res.get("correct"))
    res["exit"] = out.returncode
    return res


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(pairs: list[tuple[float, float]], better: str, bound: float) -> dict:
    """The rows and verdict for one metric over ``(parent, change)`` pairs."""
    sign = 1.0 if better == "higher" else -1.0
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq, cq = quartiles(parent), quartiles(change)
    won = sum(sign * (c - p) > 0 for p, c in pairs)
    lost = sum(sign * (c - p) < 0 for p, c in pairs)
    gap = sign * (cq[1] - pq[1])  # > 0: the change is better
    spread = max((pq[2] - pq[0]) / abs(pq[1]) if pq[1] else 0.0,
                 (cq[2] - cq[0]) / abs(cq[1]) if cq[1] else 0.0)
    apart = min(sign * c for c in change) > max(sign * p for p in parent)
    if won >= 0.9 * len(pairs) and gap > pq[2] - pq[0]:
        v = "gain"
    elif -gap > bound * abs(pq[1]):
        v = "worse"
    elif spread > bound and not apart:
        v = "unresolved"
    else:
        v = "within bound"
    return {"parent": pq, "change": cq, "won": won, "lost": lost,
            "pairs": len(pairs), "delta": (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0,
            "spread": spread, "verdict": v}


def report(workload: str, runs: list[dict], metrics: list[dict]) -> dict:
    done = [r for r in runs if r["parent"]["ok"] and r["change"]["ok"]]
    failed = {s: sum(not r[s]["ok"] for r in runs) for s in SIDES}
    print(f"\n== {workload}: {len(done)} complete pairs of {len(runs)}; "
          f"failed runs parent {failed['parent']}, change {failed['change']}")
    print(f"{'metric':<18} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'delta':>8} {'won':>6}  verdict")
    out = {}
    for m in metrics:
        name = m["name"]
        pairs = [(r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
                 for r in done]
        if not pairs:
            continue
        row = verdict(pairs, m["better"], m["bound"])
        fmt = lambda q: "/".join(f"{x:.5g}" for x in q)  # noqa: E731
        print(f"{name:<18} {fmt(row['parent']):>32} {fmt(row['change']):>32} "
              f"{row['delta']:>+8.1%} {row['won']:>3}/{row['pairs']:<2}  {row['verdict']}")
        out[name] = row
    return {"failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    args = ap.parse_args(argv)
    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(".cdcbench_work", exist_ok=True)
    status = 0
    for workload in args.workload:
        runs = []
        for i in range(args.pairs):
            pair = {}
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                pair[side] = run_once(checkouts[side], workload, args.seed, seconds)
            runs.append(pair)
            vals = "  ".join(
                f"{s}: " + (f"{pair[s]['metrics']['events_per_s']['value']:.0f} ev/s"
                            if pair[s]["ok"] else f"FAILED (exit {pair[s]['exit']})")
                for s in SIDES)
            print(f"{workload} pair {i + 1}/{args.pairs}  {vals}", flush=True)
        summary = report(workload, runs, bench["end_to_end"])
        path = os.path.join(".cdcbench_work", f"ab-{workload}-s{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"workload": workload, "seed": args.seed, "seconds": seconds,
                       "checkouts": checkouts, "runs": runs, "summary": summary},
                      fh, indent=1)
        print(f"runs: {path}")
        if any(summary["failed"].values()):
            status = 1
    return status


if __name__ == "__main__":
    sys.exit(main())
