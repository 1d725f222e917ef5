#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 --out perfbench/steadiness/serve.json

For every metric: its values, their median, and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median. Runs one seed at a time through perfbench/run.py, from the root
of a checkout.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(line)
        runs.append({"seed": s, "exit": p.returncode, "wall_s": round(wall, 1), "result": res})
        print(f"seed {s}: exit {p.returncode} wall {wall:.0f} s correct {res.get('correct')}",
              file=sys.stderr, flush=True)
    metrics = {}
    for name in runs[0]["result"].get("metrics", {}):
        vals = [r["result"]["metrics"][name]["value"] for r in runs if r["exit"] == 0]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        metrics[name] = {"median": med, "iqr_over_median": (q3 - q1) / med if med else None,
                         "values": vals}
        print(f"{name:40s} median {med:12.5g}  spread {metrics[name]['iqr_over_median']}")
    report = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "runs": [{k: v for k, v in r.items() if k != "result"} for r in runs],
              "metrics": metrics}
    if a.out:
        pathlib.Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        pathlib.Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
