"""Metric names, percentile rules and the summaries run.py prints.

The names here are the ones BENCHMARK.json records; the benchmark's tests
check the two agree.
"""
import math
import os
import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# name -> unit, for --trace 0 (every workload prints every one)
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}

FAMILIES = ["dedup", "media", "prepare", "pack", "lexical", "containment", "graph_ann", "pq"]
SUBSTRATES = ["components", "corpusVecs", "pqQuantRows", "bandedHammingPairs",
              "minhash", "simhash", "other"]

# name -> unit, for --trace 1 (every workload prints every one; a layer
# the workload does not drive reads 0)
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "plans.plan_ms": "ms",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_wait_s": "s", "exec.driver_gap_ms": "ms",
    **{f"substrate.{s}.cpu_s": "s" for s in SUBSTRATES},
    "caches.persisted_peak": "count", "caches.leaked": "count",
    **{f"api.{k}_ms": "ms" for k in ["history", "data", "raw_subquery", "raw_semijoin", "missing"]},
    "api.plan_ms": "ms",
    "incremental.replicate_ms": "ms", "incremental.day_bytes_mb": "MB",
    "incremental.day_growth": "ratio", "incremental.write_amp": "ratio",
    "flows.rot_ms": "ms", "flows.avm_ms": "ms",
    "analytics.rigidfit_us": "us", "analytics.hclust_us": "us",
    **{f"artifacts.{f}.{m}": u for f in FAMILIES
       for m, u in [("build_ms", "ms"), ("serve_ms", "ms"), ("bytes", "bytes")]},
    "artifacts.build_ms": "ms", "artifacts.serve_ms": "ms",
    "trace.overhead_frac": "frac",
}


def percentile(values, q):
    """The q-th percentile (0 < q < 1) by linear interpolation between
    closest ranks -- numpy's default."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie strictly beyond the q-th percentile."""
    return n - 1 - math.floor((n - 1) * q)


def tail_percentile(values, q, min_beyond=10):
    """The q-th percentile, refused unless at least `min_beyond` samples
    lie beyond it: a tail read off fewer samples is noise."""
    if samples_beyond(len(values), q) < min_beyond:
        raise ValueError(f"p{round(q * 100)} of {len(values)} samples has "
                         f"{samples_beyond(len(values), q)} beyond it, needs {min_beyond}")
    return percentile(values, q)


def assert_empty_root(path):
    """An index root must start empty, so that no artifact left by an
    earlier process decides whether a call builds or serves."""
    left = os.listdir(path)
    if left:
        raise AssertionError(f"index root {path} is not empty: {sorted(left)[:5]}")


def timed_ops(res):
    return res["ops"][:int(res["timed_ops"])]


def end_to_end(res, setup_s):
    ops = timed_ops(res)
    ms = [o["ms"] for o in ops]
    wall_s = int(res["wall_ns"]) / 1e9
    vals = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / wall_s,
        "p50_ms": percentile(ms, 0.5),
        "cpu_ms_per_op": int(res["cpu_ns"]) / 1e6 / len(ops),
        "peak_rss_mb": int(res["peak_rss_kb"]) / 1024.0,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def latency_summary(res):
    """Per op kind: sample count, median and the highest of p90/p75 that
    has at least ten samples beyond it, as one human-readable line."""
    by = {}
    for o in timed_ops(res):
        by.setdefault(o["kind"], []).append(o["ms"])
    by["all"] = [o["ms"] for o in timed_ops(res)]
    parts = []
    for k, v in sorted(by.items()):
        s = f"{k}: n={len(v)} p50={percentile(v, 0.5):.1f}ms"
        for q in (0.9, 0.75):
            try:
                s += f" p{round(q * 100)}={tail_percentile(v, q):.1f}ms"
                break
            except ValueError:
                pass
        parts.append(s)
    return "; ".join(parts)


def per_layer(res):
    layers = res["layers"]
    if set(layers) != set(PER_LAYER):
        raise KeyError(f"the JVM reported {sorted(set(layers) ^ set(PER_LAYER))} "
                       "out of step with the declared per-layer metrics")
    return {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
