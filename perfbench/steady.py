#!/usr/bin/env python3
"""Steadiness check: run workloads on several seeds and report, for each
end-to-end metric, the median and the spread (interquartile range as a
share of the median, from statistics.quantiles(values, n=4)) next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workload NAME ...] [--seeds 1-10]
        [--out FILE]

Run from the repository root. Each run is one call of perfbench/run.py;
the raw results are appended to FILE (JSON lines) so two sets of runs of
the same code can be compared with --compare A B.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med if med else float("inf")


def summarize(rows, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w]
        bad = [r for r in runs if not r["line"]["correct"]]
        print(f"{w}: {len(runs)} runs, {len(bad)} incorrect, "
              f"run time median {statistics.median(r['elapsed_s'] for r in runs):.1f} s")
        for name, bound in bounds.items():
            vals = [r["line"]["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            med, sp = spread(vals)
            flag = "" if sp <= bound / 3 else (" (over a third of bound)"
                                                if sp <= bound else " OVER BOUND")
            if sp > bound:
                ok = False
            print(f"  {name:14s} median {med:10.4f}  spread {sp:6.3f}  "
                  f"bound {bound}{flag}")
        ok = ok and not bad
    return ok


def compare(a_rows, b_rows, spec):
    """Second median against the first, per workload and metric: the two
    sets agree when they differ by at most the bound, either way."""
    ok = True
    for m in spec["end_to_end"]:
        for w in sorted({r["workload"] for r in a_rows}):
            a = [r["line"]["metrics"][m["name"]]["value"] for r in a_rows
                 if r["workload"] == w]
            b = [r["line"]["metrics"][m["name"]]["value"] for r in b_rows
                 if r["workload"] == w]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma
            agree = abs(change) <= m["bound"]
            ok = ok and agree
            print(f"{w:20s} {m['name']:14s} {ma:10.4f} -> {mb:10.4f} "
                  f"change {change:+.3f} (bound {m['bound']}) "
                  f"{'ok' if agree else 'OUTSIDE BOUND'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench",
        "steady.jsonl"))
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if a.compare:
        load = lambda p: [json.loads(x) for x in open(p) if x.strip()]
        sys.exit(0 if compare(load(a.compare[0]), load(a.compare[1]), spec)
                 else 1)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    rows = []
    for w in workloads:
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                 str(seed), "--seconds", str(spec["run_seconds"]), "--trace",
                 "0"], capture_output=True, text=True)
            elapsed = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                sys.exit(1)
            row = {"workload": w, "seed": seed, "elapsed_s": elapsed,
                   "line": json.loads(p.stdout.strip().splitlines()[-1])}
            rows.append(row)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(row) + "\n")
            print(f"{w} seed {seed}: {elapsed:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in row["line"]["metrics"].items()),
                  flush=True)
    sys.exit(0 if summarize(rows, spec) else 1)


if __name__ == "__main__":
    main()
