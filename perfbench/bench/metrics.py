"""Turns the benchmark JVM's raw record into the benchmark's metrics.

End-to-end metrics (untraced runs) are the same four for every workload,
each defined on the workload's own unit of work:

  setup_s    session start, fixtures and warm-up ops: everything before
             the first timed op
  work_s     one unit of work: a whole FFI batch (median over batches),
             one cycle of the lake op plan (sum of per-kind medians times
             the kind's count per cycle)
  op_p50_s   median latency of one op: an export load, a lake DML or read
             statement
  ops_per_s  successful ops per second the client spent in ops

Failed ops are never samples; they are counted in `failed`. Each
workload's own figures (commit and read latencies with their tail
percentile, write and space amplification, MB/s, rows/s) go on
the detail line printed before the result.
"""

import math
import statistics

# The workloads BENCHMARK.json lists.
DRIVEN = ("ffi_export", "lake_dml")

LAKE_SF = 0.1

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("work_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

LAKE_CYCLE = {"merge": 1, "insert": 1, "update": 1, "delete": 1, "point": 20, "range": 20,
              "optimize": 1}
COMMITS = ("merge", "insert", "update", "delete", "optimize")
READS = ("point", "range")

PHASES = ["key_ranges", "refusal_probes", "rewrite", "append_stats", "bloom", "cdc_artifact",
          "other"]
QUERY_COUNTERS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                  ("job_busy_s", "s"), ("driver_s", "s"), ("task_s", "s"), ("gc_ms", "ms"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB")]

PER_LAYER = (
    [("engine.session_start_s", "s", "lower"),
     ("engine.heap_after_gc_peak_mb", "MB", "lower"),
     ("etl.extract_s", "s", "lower"), ("etl.extract_jobs", "count", "lower"),
     ("etl.transform_s", "s", "lower"), ("etl.transform_jobs", "count", "lower"),
     ("sinks.load_s", "s", "lower"), ("sinks.load_jobs", "count", "lower"),
     ("sinks.rows_merged", "count", "higher"), ("sinks.tables_failed", "count", "lower"),
     ("sources.commit_jobs", "count", "lower"), ("sources.commit_driver_s", "s", "lower")]
    + [(f"sources.phase_s.{p}", "s", "lower") for p in PHASES]
    + [("sources.bytes_written", "bytes", "lower"), ("sources.files_added", "count", "lower"),
       ("sources.snapshot_dirs", "count", "lower"), ("sources.files_read", "count", "lower"),
       ("sources.prune_ratio", "ratio", "higher"),
       ("plans.planning_ms", "ms", "lower"), ("plans.graft_rule_ms", "ms", "lower"),
       ("plans.graft_rule_effective", "ratio", "higher")]
    + [(f"queries.{c}", u, "lower") for c, u in QUERY_COUNTERS]
    + [("functions.codegen_compile_ms", "ms", "lower"),
       ("functions.codegen_max_method_bytes", "bytes", "lower"),
       ("trace.overhead_s", "s", "lower")])

# The per-layer metrics a traced run of each workload must measure: the
# layers it exercises, plus those every workload exercises. A run that does
# not measure one of them fails; the others (a layer the workload does not
# exercise) read 0.
COMMON_LAYERS = ("engine.", "plans.", "queries.", "functions.", "trace.")
WORKLOAD_LAYERS = {"ffi_export": ("etl.", "sinks."), "lake_dml": ("sources.",)}


def exercised(workload):
    prefixes = COMMON_LAYERS + WORKLOAD_LAYERS[workload]
    return [n for n, _, _ in PER_LAYER if n.startswith(prefixes)]


def tail(samples):
    """The highest nearest-rank percentile with at least ten samples above
    it, as (percentile, value); None with fewer than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return None
    rank = n - 10  # 1-based rank: ten samples lie beyond it
    return round(100.0 * rank / n, 1), s[rank - 1]


def ok_secs(ops, kinds=None):
    return [o["sec"] for o in ops if o["sec"] is not None and (kinds is None or o["kind"] in kinds)]


def _latency(name, samples):
    out = {f"{name}_p50_s": statistics.median(samples) if samples else None,
           f"{name}_samples": len(samples)}
    t = tail(samples)
    if t:
        out[f"{name}_tail_s"] = t[1]
        out[f"{name}_tail_percentile"] = t[0]
    return out


def work_seconds(record):
    """One unit of the workload's work, and the workload's own detail."""
    ops = record["ops"]
    final = record["final"]
    name = record["workload"]
    if name == "ffi_export":
        exports = [o for o in ops if o["sec"] is not None]
        secs = sum(o["sec"] for o in exports)
        batches = {}
        for o in ops:
            batches.setdefault(o["batch"], []).append(o["sec"])
        whole = [sum(b) for b in batches.values() if None not in b]  # no export failed
        detail = {"ffi.batch_s": statistics.median(whole) if whole else None,
                  "ffi.batches": len(whole),
                  "ffi.export_p50_s": statistics.median(ok_secs(ops)),
                  "ffi.xml_mb_per_s": sum(o["bytes"] for o in exports) / 1e6 / secs,
                  "ffi.rows_per_s": sum(o["rows"] for o in exports) / secs}
        return detail["ffi.batch_s"], detail
    if name == "lake_dml":
        per_kind = {k: ok_secs(ops, (k,)) for k in LAKE_CYCLE}
        missing = [k for k, v in per_kind.items() if not v]
        work = None if missing else sum(
            n * statistics.median(per_kind[k]) for k, n in LAKE_CYCLE.items())
        commit, read = ok_secs(ops, COMMITS), ok_secs(ops, READS)
        detail = {"lake.cycle_s": work, "lake.kinds_missing": missing,
                  "lake.ops_per_s": len(commit + read) / sum(commit + read)}
        detail.update(_latency("lake.commit", commit))
        detail.update(_latency("lake.read", read))
        if final["batch_bytes"]:
            detail["lake.write_amp"] = final["bytes_written"] / final["batch_bytes"]
        detail["lake.space_amp"] = final["table_bytes"] / final["live_plain_bytes"]
        return work, detail
    raise ValueError(f"unknown workload {name}")


def summarize(record, traced):
    """(result object for the last output line, detail object)."""
    ops = record["ops"]
    all_ops = ops + record.get("traced_ops", [])
    failed = sum(1 for o in all_ops if o["error"] is not None)
    errors = sorted({o["error"] for o in all_ops if o["error"] is not None})[:5]
    final_error = record["final"].get("final_error")
    detail = {"workload": record["workload"], "errors": errors, "final_error": final_error}
    work, own = work_seconds(record)
    detail.update(own)
    if traced:
        layers = record["layers"]
        detail["spans_file"] = record.get("spans_file")
        must = exercised(record["workload"])
        missing = sorted(n for n in must if n not in layers)
        if missing:
            detail["layers_not_listed"] = layers
            raise ValueError(f"traced run did not measure {missing}; detail: {detail}")
        values = {n: layers[n] if n in must else 0.0 for n, _, _ in PER_LAYER}
        units = {n: u for n, u, _ in PER_LAYER}
        detail["layers_not_exercised"] = sorted(n for n in values if n not in must)
        detail["layers_not_listed"] = {k: v for k, v in layers.items() if k not in values}
    else:
        secs = ok_secs(ops)
        values = {"setup_s": record["setup_s"],
                  "work_s": work,
                  "op_p50_s": statistics.median(secs) if secs else None,
                  "ops_per_s": len(secs) / sum(secs) if secs else None}
        units = {n: u for n, u, _ in END_TO_END}
    unmeasured = sorted(n for n, v in values.items() if v is None or not math.isfinite(v))
    if unmeasured:
        raise ValueError(f"not measured in this run: {unmeasured}; detail: {detail}")
    result = {"correct": failed == 0 and final_error is None, "attempted": max(1, len(all_ops)),
              "failed": failed,
              "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}
    return result, detail
