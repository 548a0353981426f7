#!/usr/bin/env python3
"""Per-layer breakdown with the tracing overhead, as markdown.

    python3 perfbench/breakdown.py --seeds 1,2,3 [--seconds 12]

For each workload: untraced runs on every seed (end-to-end medians), then
one traced run on the first seed. It prints the traced run's gated
per-layer metrics, then the workload's own figures (`detail`, which run.py
files under perfbench/.work/detail), then the overhead row, which compares
each `trace.<metric>` of the traced run with the untraced median of
`<metric>`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("offline_batch", "ingest_while_serving")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed")
    with open(os.path.join(HERE, ".work", "detail", f"{workload}-{seed}-trace{trace}.json")) as f:
        detail = json.load(f)
    return json.loads(p.stdout.strip().splitlines()[-1]), detail


def table(rows):
    print("| metric | value | unit |\n|---|---|---|")
    for k, v in rows.items():
        print(f"| `{k}` | {v['value']:.4g} | {v['unit']} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=int, default=12)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    for w in WORKLOADS:
        untraced = [run(w, s, a.seconds, 0) for s in seeds]
        traced, detail = run(w, seeds[0], a.seconds, 1)
        e2e = {k: statistics.median(r["metrics"][k]["value"] for r, _ in untraced)
               for k in untraced[0][0]["metrics"]}
        print(f"\n### {w} (traced seed {seeds[0]}, untraced seeds {a.seeds}, {a.seconds} s)\n")
        print("End-to-end, untraced medians:\n")
        table({k: {"value": v, "unit": untraced[0][0]["metrics"][k]["unit"]} for k, v in e2e.items()})
        print("\nGated per-layer metrics, traced run:\n")
        table(traced["metrics"])
        print("\nThe workload's own figures, traced run:\n")
        table(detail)
        print("\n| tracing overhead | untraced median | traced | change |\n|---|---|---|---|")
        for k, v in traced["metrics"].items():
            if k.startswith("trace."):
                base = e2e[k[len("trace."):]]
                print(f"| `{k[len('trace.'):]}` | {base:.4g} | {v['value']:.4g} | "
                      f"{(v['value'] - base) / base:+.1%} |")


if __name__ == "__main__":
    main()
