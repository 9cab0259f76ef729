"""Run one workload under several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--trace 0]

Runs perfbench/run.py once per seed, one after another, from the
repository root. For every metric it prints the median of the runs and
the spread (q3 - q1) / median, with quartiles from
statistics.quantiles(values, n=4), next to the bound BENCHMARK.json sets.
Each run's JSON line and wall time are kept in
.perfbench_traces/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(".perfbench_traces", exist_ok=True)
    log = os.path.join(".perfbench_traces", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    walls = []
    with open(log, "a") as out:
        for seed in seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            t0 = time.time()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True)
            wall = time.time() - t0
            walls.append(wall)
            if proc.returncode != 0:
                print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            out.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
            print(f"seed {seed}: {wall:.1f} s, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    print(f"wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / abs(med):.3f}"
        else:
            spread = "-"
        print(f"{name:36s} median {med:14.4f}  spread {spread:>6s}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
