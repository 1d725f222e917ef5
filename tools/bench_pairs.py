#!/usr/bin/env python3
"""Paired benchmark runs of a parent commit against the working tree.

    python3 tools/bench_pairs.py --workload serve --pairs 10 --seed 51 --parent HEAD

Exports `--parent` with `git archive` into a temporary directory and runs
`perfbench/run.py` once per side per pair, alternating which side runs first
(pair 1 starts with the parent). Both runs of a pair use the same seed; pair i
uses seed `--seed` + i - 1. Both sides build into one CARGO_TARGET_DIR (the
environment's, else the working tree's `.bench_build`); builds are keyed by a
hash of their sources, so each side compiles once.

Prints one row per metric: each side's median and quartiles, the working
tree's wins out of the pairs that reported the metric on both sides (ties
count for neither), whether the gain rule holds (wins in at least nine
tenths of the pairs, medians further apart than the parent's quartile
distance), and, for an end-to-end metric, whether the working tree is worse:
its median is worse than the parent's by more than the metric's `bound` (from
BENCHMARK.json) times the parent's median. The last lines say whether any
end-to-end metric was worse and whether every run exited 0 with
`"correct": true`; the exit status is 1 if either fails. `--out` also writes
every run's result as JSON. Run from the root of a checkout; nothing under
perfbench/ is changed.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def run_once(root, workload, seed, seconds, trace, env):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
                       cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        result = {}
    return {"seed": seed, "exit": p.returncode, "wall_s": round(time.time() - t0, 1),
            "result": result}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    env = dict(os.environ)
    target = pathlib.Path(env.get("CARGO_TARGET_DIR", root / ".bench_build"))
    env["CARGO_TARGET_DIR"] = str(target if target.is_absolute() else root / target)

    tmp = pathlib.Path(tempfile.mkdtemp(prefix="bench-pairs-"))
    try:
        parent = tmp / "parent"
        parent.mkdir()
        archive = subprocess.run(["git", "archive", a.parent], cwd=root, check=True,
                                 stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", str(parent)], input=archive, check=True)
        sides = {"parent": parent, "change": root}
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run_once(sides[side], a.workload, seed, a.seconds, a.trace, env)
                runs[side].append(r)
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: exit {r['exit']} "
                      f"wall {r['wall_s']} s correct {r['result'].get('correct')}",
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def value(r, name):
        m = r["result"].get("metrics", {}).get(name)
        return None if m is None else m["value"]

    names = [n for n in better if any(value(r, n) is not None for r in runs["parent"])]
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}, "
          f"--seconds {a.seconds} --trace {a.trace}, parent {a.parent}")
    print(f"{'metric':34s} {'parent median [Q1, Q3]':>36s} {'change median [Q1, Q3]':>36s}"
          f" {'wins':>7s} gain worse")
    worse_rows = []
    for name in names:
        pairs = [(value(p, name), value(c, name)) for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        lower = better[name] == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        gain = wins >= 0.9 * len(pairs) and abs(cmed - pmed) > pq3 - pq1
        worse = None
        if name in bounds:
            worse = (cmed - pmed if lower else pmed - cmed) > bounds[name] * abs(pmed)
            if worse:
                worse_rows.append(name)
        print(f"{name:34s} {pmed:12.5g} [{pq1:10.5g}, {pq3:10.5g}] "
              f"{cmed:12.5g} [{cq1:10.5g}, {cq3:10.5g}] {wins:3d}/{len(pairs):<3d} "
              f"{'yes' if gain else 'no ':4s} {'-' if worse is None else 'WORSE' if worse else 'no'}")
    ok = all(r["exit"] == 0 and r["result"].get("correct") is True
             for side in runs.values() for r in side)
    print(f"end-to-end metrics worse than their bound: {', '.join(worse_rows) or 'none'}")
    print(f"every run exit 0 and correct: {'yes' if ok else 'NO'}")
    if a.out:
        pathlib.Path(a.out).write_text(json.dumps(
            {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
             "parent": a.parent, "runs": runs}, indent=1) + "\n")
    sys.exit(0 if ok and not worse_rows else 1)


if __name__ == "__main__":
    main()
