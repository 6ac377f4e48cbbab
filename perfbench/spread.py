#!/usr/bin/env python3
"""Run the benchmark once per seed and report every run and the spread.

    python3 perfbench/spread.py --workload crawl-deep --seeds 11-20

Run from the repository root. Each run is ``perfbench/run.py`` in its own
process, one after another. Every run's metrics are printed as a row;
then, per metric, the median, the quartiles and the interquartile range
as a share of the median (``statistics.quantiles(values, n=4)``). With
``--jsonl PATH`` each run's result line is also appended to PATH.
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


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=_seeds, required=True,
                   help="e.g. 11-20 or 1,4,9")
    p.add_argument("--seconds", default="40")
    p.add_argument("--trace", default="0")
    p.add_argument("--jsonl")
    args = p.parse_args(argv)

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        elapsed = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        notes = next((json.loads(line[6:]) for line in lines
                      if line.startswith("notes ")), None)
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
        run = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "rc": proc.returncode, "elapsed": round(elapsed, 1),
               "result": result, "notes": notes}
        runs.append(run)
        if args.jsonl:
            with open(args.jsonl, "a") as f:
                f.write(json.dumps(run) + "\n")
        shown = ({k: round(v["value"], 4)
                  for k, v in result["metrics"].items()} if result else None)
        print(f"seed {seed} rc {proc.returncode} {elapsed:.0f} s "
              f"correct {result and result['correct']} {shown}", flush=True)

    done = [r["result"] for r in runs if r["result"]]
    print(f"{len(done)} of {len(runs)} runs gave a result, "
          f"{sum(1 for r in done if r['correct'])} correct")
    for name in (done[0]["metrics"] if done else ()):
        values = [r["metrics"][name]["value"] for r in done]
        med = statistics.median(values)
        if len(values) > 1:
            q1, _, q3 = statistics.quantiles(values, n=4)
        else:
            q1 = q3 = med
        print(f"{name:24s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"iqr/median {(q3 - q1) / med if med else float('nan'):.3f}")
    return 0 if done and len(done) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
