#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if needed (perfbench/build.py), generates the
run's inputs from the seed, runs the workload in one fresh JVM on
local[nproc] with a private tmpdir, Spark local dir and warehouse, checks
every output, and prints one JSON line: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1). The full record of the run (every operation, the spans,
the effective Spark confs, JDK, nproc, heap, source digest and seed) goes
to .bench_build/results/. Workloads and metrics: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import lifecycle  # noqa: E402
import layers  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
# every JVM of a run must end within this many seconds of the build
RUN_TIMEOUT_S = 165
# set-ups per untraced run, each in a fresh JVM; setup_s is their median
SETUPS = 3
HEAP = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_env(run_dir):
    """The parent environment minus every program override and with Spark's
    scratch space pointed into the run directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return env


def run_jvm(classes, run_dir, params, log_path, deadline):
    cp = os.pathsep.join([os.path.join(build.spark_jars(), "*"), classes])
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseTransparentHugePages", "-XX:-UsePerfData", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] +
           [f"{k}={v}" for k, v in params.items()])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=jvm_env(run_dir), cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException as e:
            # timeout or a termination signal: never leave the JVM behind
            proc.kill()
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit(f"run: JVMs exceeded {RUN_TIMEOUT_S} s")
            raise
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"run: JVM exited with code {code}")
    with open(params["out"]) as f:
        return json.load(f)


def fresh_run_dir(workload):
    """A private directory for one JVM: its tmpdir, Spark local dir and work
    directory (warehouse, outputs)."""
    runs = os.path.join(build.BUILD_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=runs)
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    return run_dir


def jvm_dirs(run_dir):
    return {"work": os.path.join(run_dir, "work"), "out": os.path.join(run_dir, "out.json")}


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ── correctness ────────────────────────────────────────────────────────────

def check_queries(ops, pins):
    """An execution fails if it raised or its fingerprint differs from the
    pin. Entries pinned as unstable are checked on row count and schema."""
    failures = []
    for o in ops:
        pin = pins.get(o["name"])
        if "error" in o:
            failures.append(f"{o['name']}#{o['pass']}: {o['error']}")
        elif pin is None:
            failures.append(f"{o['name']}: no pin")
        elif o["n"] != pin["n"] or o["schema"] != pin["schema"] or (pin["stable"] and o["h"] != pin["h"]):
            failures.append(f"{o['name']}#{o['pass']}: got {o['n']}:{o['h']} want {pin['n']}:{pin['h']}")
    return failures


def read_csv_rows(path):
    rows = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".csv"):
            with open(os.path.join(path, name)) as f:
                rows += [line.rstrip("\n").split(",") for line in f if line.strip()]
    return rows


def check_lifecycle(res, moments, model, run_dir):
    """One line per failed operation: a batch, an invariant check, or the
    full recompute of the final fact and dimension."""
    failures = []
    for b, want in zip(res["batches"], moments):
        got = {k: b.get(k) for k in want}
        if "error" in b or got != want:
            failures.append(f"batch {b['batch']}: {b.get('error') or got} want {want}")
    for i in range(len(res["batches"]), len(moments)):
        failures.append(f"batch {i + 1}: not run")
    for c in res.get("checks", []):
        if not c["ok"]:
            failures.append(f"{c['name']}: {c['detail']}")
    # full recompute: the incremental fact and dimension, row by row
    from decimal import Decimal
    def dec(s):
        return None if s == "N" else Decimal(s)
    final = os.path.join(run_dir, "work", "final")
    problems = []
    try:
        fact = {(int(r[0]), r[1]): tuple(dec(x) for x in r[2:5])
                for r in read_csv_rows(os.path.join(final, "fact"))}
        dim = {r[1]: int(r[0]) for r in read_csv_rows(os.path.join(final, "dim"))}
        want_fact = {(cid, d.isoformat()): v for (cid, d), v in model.fact.items()}
        if fact != want_fact:
            diff = sorted(k for k in set(fact) | set(want_fact) if fact.get(k) != want_fact.get(k))
            cols = {c for k in diff if k in fact and k in want_fact
                    for c, a, b in zip(("temp_max", "temp_min", "precipitation"), fact[k], want_fact[k])
                    if a != b}
            missing = sum(1 for k in diff if k not in fact or k not in want_fact)
            problems.append(f"{len(diff)} of {len(want_fact)} fact rows differ "
                            f"(columns {sorted(cols)}, {missing} rows missing or extra), "
                            f"e.g. {[(k, fact.get(k), want_fact.get(k)) for k in diff[:2]]}")
        if dim != model.dim:
            problems.append("the dimension differs")
    except OSError as e:
        problems.append(str(e))
    if problems:
        failures.append("equals_full_recompute: " + "; ".join(problems))
    return failures


# ── metrics ────────────────────────────────────────────────────────────────

def e2e_queries(ops):
    cold = {o["name"]: o["ms"] for o in ops if o["pass"] == 0}
    warm = {}
    for o in ops:
        if o["pass"] > 0:
            warm.setdefault(o["name"], []).append(o["ms"])
    per_query = [statistics.median(v) for v in warm.values()]
    return {"cold_pass_s": sum(cold.values()) / 1e3,
            "warm_pass_s": sum(per_query) / 1e3,
            "op_p50_ms": statistics.median(per_query)}


def e2e_lifecycle(batches):
    ms = [b["ms"] for b in batches]
    warm = ms[1:]
    return {"cold_pass_s": sum(ms) / 1e3,
            "warm_pass_s": sum(warm) / 1e3,
            "op_p50_ms": statistics.median(warm)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a termination signal unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        raise SystemExit(f"run: unknown workload {args.workload}; known: {', '.join(workloads)}")
    spec = workloads[args.workload]
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    classes, source_digest = build.ensure_built()
    deadline = time.time() + RUN_TIMEOUT_S
    if not os.path.isdir(DATA):
        raise SystemExit(f"run: input tables not found at {DATA}")

    run_dir = fresh_run_dir(args.workload)
    setup_dirs = []
    try:
        # set-up starts here: input generation, JVM launch, session, warm-up
        t_setup = time.time()
        params = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "cores": nproc(), "data": DATA}
        staged_bytes = 0
        if spec["kind"] == "lifecycle":
            batches = lifecycle.generate(args.seed, spec["batches"])
            staged_bytes = lifecycle.write_batches(batches, os.path.join(run_dir, "inputs"))
            params["inputs"] = os.path.join(run_dir, "inputs")
        else:
            params["queries"] = ",".join(spec["queries"])
        inputs_s = time.time() - t_setup
        # the set-up alone, repeated in fresh JVMs and directories
        setups = []
        for _ in range(0 if args.trace else SETUPS - 1):
            setup_dirs.append(fresh_run_dir(args.workload))
            d = setup_dirs[-1]
            t_launch = time.time()
            r = run_jvm(classes, d, dict(params, setup_only=1, **jvm_dirs(d)),
                        os.path.join(d, "jvm.log"), deadline)
            setups.append(inputs_s + r["first_op_epoch_ms"] / 1e3 - t_launch)
        t_launch = time.time()
        res = run_jvm(classes, run_dir, dict(params, **jvm_dirs(run_dir)),
                      os.path.join(run_dir, "jvm.log"), deadline)
        setups.append(inputs_s + res["first_op_epoch_ms"] / 1e3 - t_launch)
        setup_s = statistics.median(setups)

        if spec["kind"] == "lifecycle":
            moments, model = lifecycle.expected_stream(batches)
            failures = check_lifecycle(res, moments, model, run_dir)
            attempted = len(batches) + len(res.get("checks", [])) + 1  # + full recompute
            e2e = e2e_lifecycle(res["batches"])
            root = os.path.join(run_dir, "work", "warehouse")
            storage = {"staged_bytes": staged_bytes, "live_bytes": dir_bytes(root),
                       "fact_rows": len(model.fact),
                       "change_rows": layers.parquet_rows(os.path.join(root, "cdc_feed", "changes"))}
        else:
            failures = check_queries(res["ops"], load_json("pins.json"))
            attempted = len(res["ops"])
            e2e = e2e_queries(res["ops"])
            storage = {}
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
        per_layer = layers.per_layer(res, storage)
        failed = len(failures)

        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "nproc": nproc(), "heap": HEAP, "jdk": res.get("jdk"),
                  "max_heap_mb": res.get("max_heap_mb"), "source_digest": source_digest,
                  "commit": layers.git_commit(ROOT),
                  "setup_samples_s": setups,
                  "setup_split_s": {
                      "inputs": inputs_s,
                      "jvm_session": res["session_epoch_ms"] / 1e3 - t_launch,
                      "warmup_init": (res["first_op_epoch_ms"] - res["session_epoch_ms"]) / 1e3},
                  "confs": res.get("confs"),
                  "attempted": attempted, "failed": failed, "failures": failures[:50],
                  "e2e": e2e, "per_layer": per_layer, "storage": storage,
                  "ops": res.get("ops") or res.get("batches"), "checks": res.get("checks"),
                  "spans": res.get("spans")}
        results = os.path.join(build.BUILD_DIR, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f)
        for line in failures[:20]:
            sys.stderr.write(f"FAILED {line}\n")
    finally:
        for d in [run_dir] + setup_dirs:
            shutil.rmtree(d, ignore_errors=True)

    names = bench["per_layer" if args.trace else "end_to_end"]
    source = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
