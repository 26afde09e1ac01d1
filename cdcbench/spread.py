"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 cdcbench/spread.py --workload upsert_steady --seeds 1-10 [--seconds 8]

Runs ``run.py`` once per seed, one after another, and prints for each
metric the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``.  Writes every run's result to
``.cdcbench_work/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} {vals}", flush=True)
    os.makedirs(".cdcbench_work", exist_ok=True)
    with open(f".cdcbench_work/spread-{args.workload}.json", "w", encoding="utf-8") as fh:
        json.dump(runs, fh, indent=1)
    ok = all(r["correct"] for r in runs)
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in runs]
        s = spread(values)
        flag = "" if s < bound / 3 else ("  (above bound/3)" if s <= bound else "  (ABOVE BOUND)")
        print(f"{name:<18} median {statistics.median(values):>12.4f}  "
              f"IQR/median {s:.4f}  bound {bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
