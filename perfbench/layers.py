"""Per-layer metrics from one run's spans.

Span tree: `run` (root) → one span per operation (a query execution or a
daily batch) → one leaf per layer call. A leaf's `layer` is the repo module
its code lives in:

    build                    operators   (the registry call)
    optimize, plan           catalyst
    execute                  exec
    etl                      pipeline    (WeatherEtl)
    read, commit.*, retention sources    (SnapshotStore)
    cdc.feed, cdc.apply      streaming   (StreamOps CDC)

A layer's self time is the wall of its leaves; the unattributed remainder is
the time inside operations that no leaf covers. The root's own time (the
harness's untimed checks between operations) is not counted. Spark counters
come from listener events, attributed to spans through the job group, and
are summed over the operations and their leaves; harness work runs with the
job group `none` and the root's own jobs are left out. Codegen and GC
readings are summed over the operation spans.
"""
import os
import subprocess

LAYERS = ("operators", "catalyst", "exec", "pipeline", "sources", "streaming")
PIPELINE_STAGES = ("dedup", "impute", "cap_outliers", "dim_insert", "fact_merge")
MB = float(1 << 20)


def parquet_rows(path):
    """Rows in every parquet file under `path`, read from the footers."""
    import pyarrow.parquet as pq
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def self_times(spans):
    """{layer: self ms} plus the unattributed remainder, over the operations."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    unattributed = 0.0
    for s in spans:
        if s["parent"] == -1:
            continue
        kids = children.get(s["id"], [])
        own = s["ms"] - sum(k["ms"] for k in kids)
        if s["layer"]:
            out[s["layer"]] += own
        else:
            unattributed += own
    out["unattributed"] = unattributed
    return out


def per_layer(res, storage):
    every = res.get("spans") or []
    # the root span's own jobs and time are harness work between operations
    spans = [s for s in every if s["parent"] != -1]
    roots = {s["id"] for s in every if s["parent"] == -1}
    def total(key, pred=lambda s: True):
        return float(sum(s.get(key, 0) for s in spans if pred(s)))
    def named(*names):
        return lambda s: s["name"] in names
    def operation(s):
        # JVM-wide counters are read per span, so only operation spans are
        # summed: their children's readings are already inside them
        return s["parent"] in roots
    cores = res.get("cores") or 1
    exec_ms = total("job_ms")
    batches = res.get("batches") or []
    selfs = self_times(spans)
    m = {
        "operators.build_ms": total("ms", named("build")),
        "operators.build_jobs": total("jobs", named("build")),
        "operators.build_tasks": total("tasks", named("build")),
        "catalyst.analysis_ms": total("analysis_ms"),
        "catalyst.optimize_ms": total("optimize_ms"),
        "catalyst.plan_ms": total("plan_ms"),
        "catalyst.plan_nodes": total("plan_nodes"),
        "catalyst.exchanges": total("exchanges"),
        "catalyst.codegen_stages": total("codegen_stages"),
        "exec.ms": exec_ms,
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.task_cpu_s": total("task_cpu_ns") / 1e9,
        "exec.core_util": total("task_run_ms") / (exec_ms * cores) if exec_ms else 0.0,
        "exec.codegen_compiles": total("codegen_compiles", operation),
        "exec.codegen_ms": total("codegen_ms", operation),
        "exec.shuffle_read_mb": total("shuffle_read") / MB,
        "exec.shuffle_write_mb": total("shuffle_write") / MB,
        "exec.spill_mb": total("spill") / MB,
        "exec.peak_exec_mem_mb": max([s.get("peak_exec_mem", 0) for s in spans] or [0]) / MB,
        "exec.input_mb": total("input_bytes") / MB,
        "jvm.gc_ms": total("gc_ms", operation),
        "pipeline.rows_in": total("pipeline.rows_in"),
        "pipeline.rows_dropped": total("pipeline.rows_dropped"),
        "sources.read_ms": total("ms", named("read")),
        "sources.commit_ms": total("ms", named("commit.dim", "commit.fact")),
        "sources.retention_ms": total("ms", named("retention")),
        "sources.commits": float(sum(b.get("commits", 0) for b in batches)),
        "sources.bytes_written": float(sum(b.get("bytes_written", 0) for b in batches)),
        "sources.files_written": float(sum(b.get("files_written", 0) for b in batches)),
        "sources.live_bytes": float(storage.get("live_bytes", 0)),
        "streaming.feed_ms": total("ms", named("cdc.feed")),
        "streaming.apply_ms": total("ms", named("cdc.apply")),
        "streaming.change_rows": float(storage.get("change_rows", 0)),
    }
    for stage in PIPELINE_STAGES:
        m[f"pipeline.{stage}_ms"] = total(f"pipeline.{stage}_ms")
    rows = storage.get("fact_rows", 0)
    m["sources.bytes_per_row"] = m["sources.live_bytes"] / rows if rows else 0.0
    staged = storage.get("staged_bytes", 0)
    m["sources.write_amp"] = m["sources.bytes_written"] / staged if staged else 0.0
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = selfs[layer]
    m["trace.unattributed_ms"] = selfs["unattributed"]
    return m
