"""Steadiness check: run each workload over several seeds, in one or
more sets, and report per metric the median, quartiles, spread (the
interquartile distance over the median) and set-to-set drift of the
medians, next to the bound ``BENCHMARK.json`` fixes.

    python3 perfbench/steady.py --seeds 10 --sets 2 --out perfbench/steadiness.json

Run from the root of a checkout. Each set uses fresh seeds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace=0):
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "seeds_per_set": args.seeds,
              "workloads": {}}
    seed = args.first_seed
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.seeds):
                res, info, wall = run_once(w, seed, bench["run_seconds"])
                seed += 1
                if not res["correct"] or res["failed"]:
                    raise RuntimeError(f"{w} seed {seed - 1}: {res}")
                runs.append({"seed": info["seed"], "wall_s": wall,
                             "loadavg_before": info["loadavg_before"],
                             "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
                print(f"{w} seed {info['seed']}: wall {wall:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)
            sets.append(runs)
        out = {}
        for name, spec in bounds.items():
            per_set = [summary([r["metrics"][name] for r in runs]) for runs in sets]
            row = {"unit": spec["unit"], "bound": spec["bound"], "sets": per_set}
            if len(per_set) > 1:
                a, b = per_set[0]["median"], per_set[1]["median"]
                row["drift"] = (b - a) / a
            out[name] = row
        walls = [r["wall_s"] for runs in sets for r in runs]
        report["workloads"][w] = {"metrics": out, "wall_s": summary(walls),
                                  "max_wall_s": max(walls), "runs": sets}
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for w, r in report["workloads"].items():
        print(f"{w}: wall median {r['wall_s']['median']:.1f}s max {r['max_wall_s']:.1f}s")
        for name, m in r["metrics"].items():
            spreads = " ".join(f"{s['spread']:.3f}" for s in m["sets"])
            drift = f" drift {m['drift']:+.3f}" if "drift" in m else ""
            print(f"  {name:30s} median {m['sets'][0]['median']:.4g} spread {spreads}"
                  f"{drift} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
