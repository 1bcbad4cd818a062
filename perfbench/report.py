"""Run the benchmark over several seeds and print every metric per
workload with its unit, median, quartiles, sample count and the spread
(interquartile range / median) against the bound in BENCHMARK.json.

    python3 perfbench/report.py --seeds 1-10            # end-to-end
    python3 perfbench/report.py --seeds 1-3 --trace 1   # per layer
    python3 perfbench/report.py --seeds 1-5 --workloads curation_sf0.01

Run from the repo root.  Each run is a separate process
(`perfbench/run.py`), one after another.
"""
from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args()
    specs = bench["per_layer" if args.trace else "end_to_end"]
    ok = True
    for wl in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(args.seconds),
                                      "--trace", str(args.trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(lines[-1])
            runs.append(res)
            ok &= res["correct"]
            print(f"{wl} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}",
                  file=sys.stderr)
        if not runs:
            continue
        print(f"\n{wl}  ({len(runs)} runs, seeds {args.seeds})")
        print(f"{'metric':<30}{'unit':<7}{'median':>13}{'q1':>13}"
              f"{'q3':>13}{'n':>4}{'spread':>8}{'bound':>7}")
        for m in specs:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = (statistics.quantiles(vals, n=4)
                           if len(vals) > 1 else (vals[0],) * 3)
            sp = (q3 - q1) / med if med else 0.0
            bound = m.get("bound")
            print(f"{m['name']:<30}{m['unit']:<7}{med:>13.4f}{q1:>13.4f}"
                  f"{q3:>13.4f}{len(vals):>4}{sp:>8.3f}"
                  f"{bound if bound is not None else '':>7}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
