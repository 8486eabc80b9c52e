#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and summarise them.

    python3 crawlbench/spread.py run --workload crawl_heavy --seeds 1-10 --out a.jsonl
    python3 crawlbench/spread.py report a.jsonl [b.jsonl]

`run` calls run.py once per (workload, seed) and appends each result,
with its workload, seed and exit code, to the JSONL file. `report`
prints, per workload and metric, the median, the quartiles and the
spread (quartile distance over median, quartiles as Python's
statistics.quantiles(values, n=4) gives them) of every file, and with
two files (parent first, change second) the change's median against
the parent's. Exit status of `report` is 1 when any run in the files
failed its checks.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(a):
    for seed in seeds_of(a.seeds):
        for w in a.workload.split(","):
            cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
            rec = {"workload": w, "seed": seed, "exit": p.returncode, "result": result,
                   "log": lines[:-1]}
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            ok = result is not None and result.get("correct") and p.returncode == 0
            summary = "" if result is None else " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
            print(f"{w} seed={seed} exit={p.returncode} {'ok' if ok else 'FAILED'} {summary}",
                  flush=True)


def load(path):
    by = {}
    bad = 0
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            r = rec["result"]
            if r is None or not r["correct"] or rec["exit"] != 0:
                bad += 1
                continue
            for m, v in r["metrics"].items():
                by.setdefault(rec["workload"], {}).setdefault(m, []).append(v["value"])
    return by, bad


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def report(a):
    sides = [load(p) for p in a.files]
    bad = sum(b for _, b in sides)
    base = sides[0][0]
    for w in sorted(base):
        print(w)
        for m in base[w]:
            cells = []
            meds = []
            for by, _ in sides:
                vals = by.get(w, {}).get(m)
                if not vals:
                    cells.append("(none)")
                    meds.append(None)
                    continue
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                cells.append(f"n={len(vals)} median={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}")
            line = f"  {m:24s} " + " | ".join(cells)
            if len(meds) == 2 and meds[0] and meds[1] is not None:
                line += f" | change/parent={meds[1] / meds[0]:.3f}"
            print(line)
    if bad:
        print(f"{bad} runs failed their checks or printed no result")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True, help="comma-separated workload names")
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,11")
    r.add_argument("--seconds", type=int, default=5)
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("files", nargs="+")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
