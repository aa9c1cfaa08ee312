"""Run-to-run spread of the end-to-end metrics, the steadiness test a
benchmark change must pass: for each workload, N runs with distinct
seeds; per metric the median and the quartile distance
(statistics.quantiles(values, n=4)) as a share of the median, next to
the metric's bound. Exits 1 if a run failed or a spread other than
setup_s's exceeds its bound.

    python3 perfbench/spread.py --runs 10 --first-seed 100
    python3 perfbench/spread.py --runs 5 --workloads traj_kernels

Runs are sequential (each is a whole benchmark run); raw results go to
perfbench/.cache/spread-<first seed>.json.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    raw: dict[str, list] = {}
    for wl in args.workloads:
        raw[wl] = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = p.stdout.strip().splitlines()
            ok = p.returncode == 0 and len(lines) >= 2
            raw[wl].append({"seed": seed, "wall_s": time.time() - t,
                            "result": json.loads(lines[-1]) if ok else None,
                            "detail": json.loads(lines[-2])["detail"] if ok else None})
            print(f"{wl} seed {seed}: exit {p.returncode}, {time.time() - t:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, ".cache", f"spread-{args.first_seed}.json"), "w") as f:
        json.dump(raw, f)

    ok = True
    for wl, runs in raw.items():
        good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        walls = [r["wall_s"] for r in runs]
        print(f"{wl}: {len(good)}/{len(runs)} correct runs, wall median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s")
        ok &= len(good) == len(runs)
        for m in spec["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if len(vals) < 2:
                continue
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread <= m["bound"] / 3 else "  <-- above bound/3"
            # the acceptance rule bounds every spread but setup_s's, which
            # is judged only on its median across two sets of runs
            ok &= m["name"] == "setup_s" or spread <= m["bound"]
            print(f"  {m['name']:>14} median {med:12.4f} {m['unit']:<5} spread {spread:6.3f}"
                  f" bound {m['bound']}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
