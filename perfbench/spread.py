"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload corpus_prep --seeds 1 2 3 4 5

Runs ``run.py`` once per seed (one after another), then prints for each
metric its median and the distance between the first and third quartile
as a share of the median (``statistics.quantiles(values, n=4)``), next to
the metric's bound from BENCHMARK.json and a third of it. Also prints the
wall time of each run and the cores taken by the hypervisor (steal) and
by other processes while it measured.
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


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        walls.append(time.monotonic() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        host = next(json.loads(ln.split(" ", 1)[1].split("  ")[0]) for ln in lines if ln.startswith("host "))
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items())
              + f"  (steal {host['steal_cores']:.2f}, neighbor {host['neighbor_cores']:.2f} cores)")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{args.workload}: {len(args.seeds)} runs, wall median {statistics.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        limit = f"bound {b}, third {b / 3:.4f}" if b else "no bound"
        print(f"  {k:<28} median {med:12.4f}  iqr/median {spread:.4f}  ({limit})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
