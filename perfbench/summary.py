#!/usr/bin/env python3
"""Per-layer table of traced runs.

    python3 perfbench/summary.py [--run] [--seed N] [--workload W ...]

With --run, first runs every workload of BENCHMARK.json (or the ones
named) twice on the seed, once untraced and once traced (`run.py --trace 0`
and `--trace 1`). Then, for each workload with a traced result for the
seed in .bench_build/results/, prints each layer's self time (its spans'
wall minus the part their children cover) and share of the traced run,
the unattributed remainder, the layer's counters, and the tracing
overhead: each end-to-end metric of the traced run minus the untraced
one, when an untraced result for the same seed exists.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402

RESULTS = os.path.join(build.BUILD_DIR, "results")


def load(workload, seed, trace):
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def table(traced, untraced):
    pl = traced["per_layer"]
    total = sum(pl[f"{l}.self_ms"] for l in layers.LAYERS) + pl["trace.unattributed_ms"]
    lines = [f"## {traced['workload']}  seed {traced['seed']}  "
             f"({traced['attempted']} operations, {traced['failed']} failed)", "",
             "| layer | self ms | share | counters |", "|---|---:|---:|---|"]
    for layer in layers.LAYERS + ("trace",):
        key = "trace.unattributed_ms" if layer == "trace" else f"{layer}.self_ms"
        counters = ", ".join(f"{k.split('.', 1)[1]}={v:.4g}" for k, v in pl.items()
                             if k.split(".")[0] == layer and k != key)
        if layer == "exec":
            counters += f", gc_ms={pl['jvm.gc_ms']:.4g}"
        name = "unattributed" if layer == "trace" else layer
        share = pl[key] / total if total else 0.0
        lines.append(f"| {name} | {pl[key]:.0f} | {share:.1%} | {counters} |")
    if untraced:
        lines += ["", "| end-to-end metric | untraced | traced | overhead |", "|---|---:|---:|---:|"]
        for k, v in untraced["e2e"].items():
            t = traced["e2e"].get(k)
            if t is not None:
                lines.append(f"| {k} | {v:.4g} | {t:.4g} | {(t - v) / v:+.1%} |" if v else
                             f"| {k} | {v:.4g} | {t:.4g} | |")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--run", action="store_true", help="run untraced and traced first")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    if args.run:
        for w in workloads:
            for trace in (0, 1):
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(args.seed), "--seconds", str(seconds),
                                "--trace", str(trace)], check=True, stdout=subprocess.DEVNULL)
    shown = 0
    for w in workloads:
        traced = load(w, args.seed, 1)
        if traced:
            print(table(traced, load(w, args.seed, 0)) + "\n")
            shown += 1
    if not shown:
        raise SystemExit(f"summary: no traced results for seed {args.seed} in {RESULTS}")


if __name__ == "__main__":
    main()
