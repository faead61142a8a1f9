#!/usr/bin/env python3
"""Regenerate perfbench/pins.json, the expected fingerprint of every query
the query workloads run.

    python3 perfbench/pin.py

Runs each query three times in fresh JVMs (local[N] twice, local[2] once)
and pins its row count, schema and order-insensitive hash. A query whose
hash differs between those runs is pinned on row count and schema only,
with the reason recorded. Entries that have DuckDB oracle SQL are
cross-checked once: their dumped output is compared with the oracle over
the same tables by tools/localverify.py (a maintenance step, so it may use
files outside the benchmark directory). A disagreement is reported in the
pin and on stderr; it is never pinned as the expected hash.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def pin_run(classes, names, cores, dump=None):
    run_dir = run.fresh_run_dir("pin")
    try:
        params = dict(run.jvm_dirs(run_dir), workload="pin", seed=0, cores=cores, data=run.DATA,
                      queries=",".join(names))
        if dump:
            params["dump"] = dump
        res = run.run_jvm(classes, run_dir, params, os.path.join(run_dir, "jvm.log"),
                          time.time() + run.RUN_TIMEOUT_S)
        return {o["name"]: o for o in res["ops"]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def oracle_check(dump):
    """{query: 'match' | 'mismatch: ...'} from tools/localverify.py."""
    tool = os.path.join(run.ROOT, "tools", "localverify.py")
    out = subprocess.run([sys.executable, tool, run.DATA, dump], capture_output=True, text=True)
    verdicts = {}
    for line in out.stdout.splitlines():
        m = re.match(r"(ok|FAIL)\s+(q_\w+):?\s*(.*)", line)
        if m:
            verdicts[m.group(2)] = "match" if m.group(1) == "ok" else f"mismatch: {m.group(3)[:200]}"
    return verdicts


def main():
    workloads = run.load_json("workloads.json")
    names = sorted({q for w in workloads.values() for q in w.get("queries", [])})
    classes, _ = build.ensure_built()
    dump = tempfile.mkdtemp(prefix="pin-dump-", dir=build.BUILD_DIR)
    try:
        first = pin_run(classes, names, run.nproc(), dump)
        again = pin_run(classes, names, run.nproc())
        narrow = pin_run(classes, names, 2)
        verdicts = oracle_check(dump)
    finally:
        shutil.rmtree(dump, ignore_errors=True)
    pins = {}
    for name in names:
        a, b, c = first[name], again[name], narrow[name]
        if "error" in a:
            raise SystemExit(f"pin: {name} failed: {a['error']}")
        pin = {"n": a["n"], "h": a["h"], "schema": a["schema"], "stable": True,
               "oracle": verdicts.get(name, "none")}
        if {a["h"], b.get("h"), c.get("h")} != {a["h"]} or {a["n"], b.get("n"), c.get("n")} != {a["n"]}:
            pin["stable"] = False
            pin["reason"] = (f"hash differs between runs: {a['n']}:{a['h']}, "
                             f"{b.get('n')}:{b.get('h')}, local[2] {c.get('n')}:{c.get('h')}")
        if pin["oracle"].startswith("mismatch"):
            pin["stable"] = False
            pin["reason"] = "disagrees with the DuckDB oracle; pinned on row count and schema only"
            sys.stderr.write(f"pin: {name} {pin['oracle']}\n")
        pins[name] = pin
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({n: {k: p[k] for k in ("stable", "oracle")} for n, p in pins.items()}, indent=1))


if __name__ == "__main__":
    main()
