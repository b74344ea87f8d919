"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads build lookup --seeds 1 2 3 4 5

Runs ``run.py`` once per (workload, seed), sequentially, and prints for
each metric the median and the interquartile range as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's bound
from ``BENCHMARK.json``; a spread above a third of the bound is flagged.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out", help="append every run's JSON line to this file")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                               cwd=os.path.dirname(HERE))
            wall = time.monotonic() - t0
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "rc": p.returncode, "wall_s": wall,
                                        "result": line}) + "\n")
            res = json.loads(line)
            if p.returncode != 0 or not res.get("correct"):
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})")
                ok = False
                continue
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if name == "setup_s" or spread < bounds[name] / 3 else "  <-- above bound/3"
            print(f"{w:<9} {name:<22} median {med:>14.6g}  spread {100 * spread:6.2f} %  "
                  f"bound {100 * bounds[name]:5.1f} %{flag}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
