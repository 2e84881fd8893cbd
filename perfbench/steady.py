"""Run-to-run spread of the benchmark: runs each workload under several
seeds and prints, per end-to-end metric, the median and the distance
between the first and third quartile as a share of the median.

    python3 perfbench/steady.py --workloads bridge_bulk cdc_upsert --seeds 1 2 3 4 5

Compare each spread with the metric's ``bound`` in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", help="append every run's result line to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in a.seeds:
            t0 = time.time()
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=400,
            )
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                         "info": json.loads(lines[-2]),
                                         "result": json.loads(lines[-1])}) + "\n")
            for name, m in json.loads(lines[-1])["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for name, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(name)
            flag = "" if b is None or spread <= b / 3 else ("  > bound/3" if spread <= b else "  > BOUND")
            print(f"  {name:16s} median {med:12.4f}  spread {spread:6.3f}  bound {b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
