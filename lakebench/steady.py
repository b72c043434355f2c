"""Steadiness check: run a workload over several seeds, in one or more
sets, and print each end-to-end metric's median and quartile spread
next to the bound ``BENCHMARK.json`` gives it.

    python3 lakebench/steady.py --workload lookup --seeds 1-10 --sets 2

Spread is (Q3 - Q1) / median over one set's runs, with the quartiles of
``statistics.quantiles(values, n=4)``. With two or more sets, each
set's median is also compared with the first set's. A metric is steady
when its spread stays within its bound (``setup_s`` excepted) and no
set's median is worse than the first's by more than the bound. Runs go
one at a time; each run's result and record lines are kept in
``--out``. ``--report a.jsonl b.jsonl`` reports on saved runs instead,
one set per file:

    python3 lakebench/steady.py --workload dml --report set1.jsonl set2.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {**json.loads(lines[-1]), **json.loads(lines[-2])}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def report(bench: dict, sets: list[list[dict]]) -> bool:
    ok = True
    first_medians = {}
    for s, runs in enumerate(sets):
        print(f"set {s + 1}: {len(runs)} runs")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            values = [r["metrics"][name]["value"] for r in runs]
            med, sp = spread(values)
            line = f"  {name:<18} median {med:>12.4f} {m['unit']:<6} spread {sp:6.3f} bound {bound:.3f}"
            if name != "setup_s" and sp > bound:
                ok = False
                line += "  SPREAD OVER BOUND"
            if s == 0:
                first_medians[name] = med
            else:
                base = first_medians[name]
                worse = (med - base) / base if m["better"] == "lower" else (base - med) / base
                line += f"  vs set 1 {worse:+.3f}"
                if worse > bound:
                    ok = False
                    line += " WORSE THAN BOUND"
            print(line)
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out", help="append each run's result line here (JSON lines)")
    ap.add_argument("--report", nargs="+", metavar="JSONL", help="report on saved runs, one set per file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.report:
        sets = []
        for path in args.report:
            with open(path) as fh:
                sets.append([r for r in map(json.loads, fh) if r["workload"] == args.workload])
        return 0 if report(bench, sets) else 1
    sets = []
    for s in range(args.sets):
        runs = []
        for seed in seed_list(args.seeds):
            res = run_once(args.workload, seed, bench["run_seconds"])
            runs.append(res)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": args.workload, "set": s + 1, "seed": seed, **res}) + "\n")
            print(f"set {s + 1} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        sets.append(runs)
    return 0 if report(bench, sets) else 1


if __name__ == "__main__":
    sys.exit(main())
