"""Turns one run's raw JVM result into the benchmark's metrics.

Pure functions only, so the self-tests can drive every edge case without
a JVM. A failed request arrives as a null (infinite) latency sample: it
counts against the run and misses every latency limit.
"""

import math
import statistics

# Candidate tail percentiles, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

# Samples a run of BENCHMARK.json's run_seconds (8 s) takes on a 4-core
# machine: point_read 25 to 30 reads, ingest_compact two 3-flush cycles,
# dedup_batch two passes (both fixed by the workload's minimum cycle
# count). p75 needs 40.
EXPECTED_SAMPLES = {"point_read": 28, "ingest_compact": 6, "dedup_batch": 2}

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
    ("throughput_per_s", "1/s"),
)

PER_LAYER = (
    ("api.call_ms", "ms"), ("api.call_jobs", "count"), ("api.cache_hit_ratio", "ratio"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.physical_ms", "ms"),
    ("plans.codegen_compiles_per_op", "count"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.driver_gap_ms", "ms"),
    ("spark.task_wait_ms", "ms"), ("spark.task_failures", "count"),
    ("sources.files_per_op", "count"), ("sources.files_pruned_ratio", "ratio"),
    ("sources.scan_bytes_per_op", "bytes"), ("sources.scan_rows_per_row_out", "ratio"),
    ("sources.scan_ms", "ms"), ("sources.flush_bytes_per_batch", "bytes"),
    ("sources.runs_live_max", "count"),
    ("exchange.count_per_op", "count"), ("exchange.shuffle_bytes_per_op", "bytes"),
    ("exchange.shuffle_write_ms", "ms"),
    ("functions.reconcile_agg_ms", "ms"), ("functions.versions_per_live_cell", "ratio"),
    ("operators.slice_rows_in_per_out", "ratio"), ("operators.minor_compactions", "count"),
    ("operators.compaction_bytes_rewritten", "bytes"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.trigger_ms", "ms"),
    ("pipeline.neardup_s", "s"), ("pipeline.minhash_s", "s"), ("pipeline.containment_s", "s"),
    ("pipeline.shuffle_bytes", "bytes"), ("pipeline.join_rows_per_pair", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_live_mb", "MB"), ("jvm.heap_peak_mb", "MB"),
    ("env.cpu_probe_ms", "ms"), ("env.io_probe_ms", "ms"),
    ("trace.overhead.op_p50_ms", "ms"), ("trace.overhead.op_tail_ms", "ms"),
    ("trace.overhead.throughput_per_s", "1/s"),
)

# The workload-specific names of the generic end-to-end metrics.
NAMES = {
    "point_read": {"op": "read", "throughput": ("reads_per_s", "1/s")},
    "ingest_compact": {"op": "flush", "throughput": ("ingest_cells_per_s", "cells/s")},
    "dedup_batch": {"op": "dedup_op", "throughput": ("docs_per_s", "docs/s")},
}


def _finite(x):
    return x is not None and not (isinstance(x, float) and math.isinf(x))


def tail_percentile(n):
    """Highest ladder percentile with at least ten of n samples beyond it
    (nearest-rank), or None when n is too small for any."""
    for p in LADDER:
        if n - math.ceil(p * n / 100.0) >= MIN_BEYOND:
            return p
    return None


def quantile(xs, p):
    """Nearest-rank percentile of a sorted list; None stands for +inf."""
    if not xs:
        return None
    i = max(0, math.ceil(p * len(xs) / 100.0) - 1)
    return xs[i]


def workload_tail(workload):
    """The tail percentile of a workload, fixed at its expected sample count
    so that it does not jump between runs that fit one cycle more or less.
    Below twenty samples no percentile has ten beyond it: the median."""
    return tail_percentile(EXPECTED_SAMPLES.get(workload, 0)) or 50.0


def latency(samples, tp):
    """p50 and p`tp` of a latency list in which None marks a failed request.

    Returns (p50, tail, n, beyond): `beyond` counts the samples past the
    tail, which is below ten when a run fell short of its expected count."""
    n = len(samples)
    xs = sorted(samples, key=lambda x: math.inf if x is None else x)
    beyond = n - math.ceil(tp * n / 100.0) if n else 0
    return quantile(xs, 50.0), quantile(xs, tp), n, beyond


def setup_seconds(setup):
    builds = setup.get("builds_s") or []
    if not builds:
        return None
    return setup.get("session_s", 0.0) + statistics.median(builds) + setup.get("warmup_s", 0.0)


def _phase_metrics(phase, tp):
    p50, tail, _, _ = latency(phase.get("samples", {}).get("op", []), tp)
    return {
        "op_p50_ms": p50,
        "op_tail_ms": tail,
        "throughput_per_s": phase.get("values", {}).get("throughput_per_s"),
    }


def _entry(value, unit):
    return {"value": value if _finite(value) else None, "unit": unit}


def summarize(raw, trace):
    """Return (final_line_dict, named_report_dict) for one raw run result.

    Every metric of the requested set is present by name, whatever the run
    did; a metric that could not be measured reads null and the run is
    marked incorrect."""
    phases = raw.get("phases") or [{}]
    tp = workload_tail(raw.get("workload", ""))
    first = _phase_metrics(phases[0], tp)
    e2e = dict(first, setup_s=setup_seconds(raw.get("setup", {})))
    attempted = int(raw.get("attempted", 0))
    failed = int(raw.get("failed", 0))
    if trace:
        layers = dict(raw.get("layers") or {}, **{
            "jvm.heap_live_mb": raw.get("heap_live_mb"),
            "jvm.heap_peak_mb": phases[-1].get("heap_peak_mb")})
        if len(phases) > 1:
            second = _phase_metrics(phases[1], tp)
            for k in ("op_p50_ms", "op_tail_ms", "throughput_per_s"):
                a, b = first.get(k), second.get(k)
                layers["trace.overhead." + k] = b - a if _finite(a) and _finite(b) else None
        metrics = {name: _entry(layers.get(name), unit) for name, unit in PER_LAYER}
    else:
        metrics = {name: _entry(e2e.get(name), unit) for name, unit in END_TO_END}
    measured = all(m["value"] is not None for m in metrics.values())
    correct = bool(raw) and "fatal" not in raw and failed == 0 and attempted > 0 and measured
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return line, named(raw, e2e)


def named(raw, e2e):
    """The run under the workload's own metric names, with what the final
    line has no room for: tail percentile and sample count, failed_ratio,
    store sizes, probes and errors."""
    w = raw.get("workload", "")
    names = NAMES.get(w, {"op": "op", "throughput": ("throughput_per_s", "1/s")})
    phase = (raw.get("phases") or [{}])[0]
    samples = phase.get("samples", {})
    tp = workload_tail(w)
    p50, tail, n, beyond = latency(samples.get("op", []), tp)
    op = names["op"]
    m = {
        "setup_s": _entry(e2e.get("setup_s"), "s"),
        op + "_p50_ms": _entry(p50, "ms"),
        op + "_tail_ms": dict(_entry(tail, "ms"), percentile=tp, samples=n, beyond=beyond),
        names["throughput"][0]: _entry(e2e.get("throughput_per_s"), names["throughput"][1]),
        "heap_live_mb": _entry(raw.get("heap_live_mb"), "MB"),
        "heap_peak_mb": _entry(phase.get("heap_peak_mb"), "MB"),
    }
    attempted = int(raw.get("attempted", 0))
    m["failed_ratio"] = _entry(int(raw.get("failed", 0)) / attempted if attempted else None, "ratio")
    if w == "ingest_compact":
        rp50, _, _, _ = latency(samples.get("read", []), 50.0)
        m["read_p50_ms"] = _entry(rp50, "ms")
        values = (raw.get("phases") or [{}])[-1].get("values", {})
        m["compact_s"] = _entry(values.get("compact_s"), "s")
        m["write_amp"] = _entry(values.get("write_amp"), "ratio")
        m["space_amp"] = _entry(values.get("space_amp"), "ratio")
    context = {k: raw[k] for k in (
        "workload", "seed", "trace", "seconds", "cpus", "shuffle_partitions", "driver_memory",
        "spark_version", "java_version", "sizes", "setup", "loop_s_planned", "loop_s",
        "min_cycles", "budget_s", "probes", "errors", "fatal",
        "span_counts", "spans_file") if k in raw}
    return {"metrics": m, "context": context}
