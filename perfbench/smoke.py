"""Smoke test of the benchmark itself: every workload at the smallest
scale (sf0.001), one short run untraced and one traced.  Checks that the
last stdout line has exactly the contract's keys, that outputs are
correct, and that every metric named in BENCHMARK.json prints with its
unit as a number.

    python3 perfbench/smoke.py        # from the repo root; a few minutes
"""
from __future__ import annotations

import json
import subprocess
import sys


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, specs in ((0, bench["end_to_end"]),
                             (1, bench["per_layer"])):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.001"]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            where = f"{wl} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                problems.append(f"{where}: exit {proc.returncode}: "
                                f"{proc.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{where}: correct={res['correct']} "
                                f"failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in specs}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            for name, unit in want.items():
                if got.get(name) != unit:
                    problems.append(f"{where}: {name} unit {got.get(name)} "
                                    f"!= {unit}")
                elif not isinstance(res["metrics"][name]["value"],
                                    (int, float)):
                    problems.append(f"{where}: {name} is not a number")
            if set(got) != set(want):
                problems.append(f"{where}: metrics not in BENCHMARK.json: "
                                f"{sorted(set(got) - set(want))}")
            print(f"{where}: {len(got)} metrics ok" if not problems
                  else f"{where}: see problems", flush=True)
    for p in problems:
        print("PROBLEM", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
