"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload mart_query --seeds 1-10 [--trace 1]

Runs ``BENCHMARK.json``'s command once per seed, one run at a time, and
prints for every metric the median, the quartiles and the quartile
spread as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound. The per-run JSON lines and the summary are
written to ``.perfbench/spread-<workload>-trace<t>-seeds<seeds>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result["seed"] = seed
        runs.append(result)
        print(json.dumps(result), flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _q2, q3 = statistics.quantiles(values, n=4)
        summary[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "bound": bounds.get(name),
        }
    print(f"{args.workload}: {len(runs)} runs, all correct: "
          f"{all(r['correct'] for r in runs)}, failed ops: {sum(r['failed'] for r in runs)}")
    for name, s in summary.items():
        bound = "" if s["bound"] is None else f"  bound {s['bound']:.2f}"
        print(f"  {name:34s} median {s['median']:12.5g}  spread {s['spread']:.4f}{bound}")
    os.makedirs(".perfbench", exist_ok=True)
    path = os.path.join(
        ".perfbench", f"spread-{args.workload}-trace{args.trace}-seeds{args.seeds}.json")
    with open(path, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
