"""Arithmetic of the lifecycle benchmark: raw result file -> metrics.

The JVM side (src/main/scala/perfbench/Lifecycle.scala) records, per
cycle, the wall time of each timed phase, row and byte counts, one record
per op, and in the traced run one span per call into a layer with the
Spark task counters charged to it. Everything derived from those numbers
is computed here, so that tests/test_stats.py can check it without Spark.
"""

import math
from collections import Counter

# name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "extract_p50_s": "s",
    "extract_p90_s": "s",
    "extract_rows_per_s": "rows/s",
    "artifact_bytes_per_row": "B",
    "load_rows_per_s": "rows/s",
    "reload_rows_per_s": "rows/s",
    "failed_op_frac": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "closure.s": "s",
    "closure.jobs": "count",
    "closure.tasks": "count",
    "closure.task_cpu_s": "s",
    "closure.shuffle_bytes": "B",
    "closure.input_rows": "rows",
    "closure.rows_out": "rows",
    "closure.input_rows_per_row_out": "ratio",
    "json_write.s": "s",
    "json_write.jobs": "count",
    "json_write.task_cpu_s": "s",
    "json_write.bytes": "B",
    "json_write.files": "count",
    "load_plan.s": "s",
    "upsert.s": "s",
    "upsert.jobs": "count",
    "upsert.task_cpu_s": "s",
    "upsert.partitions": "count",
    "upsert.rows_attempted": "rows",
    "upsert.rows_landed": "rows",
    "upsert.landed_frac": "ratio",
    "upsert.failed_tables": "count",
    "reupsert.s": "s",
    "reupsert.task_cpu_s": "s",
    "reupsert.rows_skipped_frac": "ratio",
    "reupsert.failed_tables": "count",
    "jvm.gc_s": "s",
    "op.other_s": "s",
}

# spans that start an op; every other span is a call made inside one
ROOT_SPANS = ("extract", "load", "reload")


def nearest_rank(values, q):
    """The q-quantile by the nearest-rank rule: the smallest sample with at
    least a share q of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(1, math.ceil(q * len(s))) - 1]


def samples_beyond(n, q):
    """How many of n samples lie above the nearest-rank q-quantile."""
    return n - max(1, math.ceil(q * n))


def ratio(num, den):
    """num / den, or NaN when the base is empty."""
    return num / den if den else float("nan")


def ops(raw):
    return [o for c in raw["cycles"] for o in c["ops"]]


def failures(raw):
    """(attempted, failed, Counter of failure causes) over every op: one
    extract, one load and one reload per table, in every measured cycle."""
    all_ops = ops(raw)
    failed = [o for o in all_ops if not o["ok"]]
    return len(all_ops), len(failed), Counter(o["cause"] for o in failed)


def correct(raw):
    """The run checked out: no benchmark-level error (a seed on the wrong
    side of the fast-path budget, a failure of unknown cause) was recorded
    and at least one cycle ran."""
    return bool(raw["cycles"]) and not raw["errors"]


def end_to_end(raw):
    cycles = raw["cycles"]
    extract = [c["extract_s"] for c in cycles]
    attempted, failed, _ = failures(raw)
    rows = sum(c["rows_out"] for c in cycles)
    return {
        # the JVM's own start plus the median of its repeated set-ups
        "setup_s": raw["jvm_boot_s"] + nearest_rank(raw["setup_s"], 0.5),
        "extract_p50_s": nearest_rank(extract, 0.5),
        "extract_p90_s": nearest_rank(extract, 0.9),
        "extract_rows_per_s": ratio(rows, sum(extract)),
        "artifact_bytes_per_row": ratio(sum(c["bytes"] for c in cycles), rows),
        "load_rows_per_s": ratio(sum(c["load_verified"] for c in cycles),
                                 sum(c["load_s"] for c in cycles)),
        "reload_rows_per_s": ratio(sum(c["reload_attempted"] for c in cycles),
                                   sum(c["reload_s"] for c in cycles)),
        "failed_op_frac": ratio(failed, attempted),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        inner = [(max(a, s["start_s"]), min(b, s["end_s"]))
                 for a, b in kids.get(s["id"], [])]
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered(
            [(a, b) for a, b in inner if b > a])
    return out


def cycle_layers(cycle, spans):
    """Per-layer values of one cycle, from its spans and op records."""
    def total(name, key):
        return sum(s[key] for s in spans if s["name"] == name)

    def dur(name):
        return sum(s["end_s"] - s["start_s"] for s in spans if s["name"] == name)

    loads = [o for o in cycle["ops"] if o["kind"] == "load"]
    reloads = [o for o in cycle["ops"] if o["kind"] == "reload"]
    own = self_times(spans)
    landed = sum(o["landed"] for o in loads)
    closure_in = total("closure", "input_rows")
    return {
        "closure.s": dur("closure"),
        "closure.jobs": total("closure", "jobs"),
        "closure.tasks": total("closure", "tasks"),
        "closure.task_cpu_s": total("closure", "task_cpu_s"),
        "closure.shuffle_bytes": total("closure", "shuffle_bytes"),
        "closure.input_rows": closure_in,
        "closure.rows_out": cycle["rows_out"],
        "closure.input_rows_per_row_out": ratio(closure_in, cycle["rows_out"]),
        "json_write.s": dur("json_write"),
        "json_write.jobs": total("json_write", "jobs"),
        "json_write.task_cpu_s": total("json_write", "task_cpu_s"),
        "json_write.bytes": cycle["bytes"],
        "json_write.files": cycle["files"],
        "load_plan.s": dur("load_plan"),
        "upsert.s": dur("upsert"),
        "upsert.jobs": total("upsert", "jobs"),
        "upsert.task_cpu_s": total("upsert", "task_cpu_s"),
        "upsert.partitions": total("upsert", "tasks"),
        "upsert.rows_attempted": cycle["load_attempted"],
        "upsert.rows_landed": landed,
        "upsert.landed_frac": ratio(landed, cycle["load_attempted"]),
        "upsert.failed_tables": sum(1 for o in loads if not o["ok"]),
        "reupsert.s": dur("reupsert"),
        "reupsert.task_cpu_s": total("reupsert", "task_cpu_s"),
        "reupsert.rows_skipped_frac": ratio(sum(o["skipped"] for o in reloads),
                                            cycle["reload_attempted"]),
        "reupsert.failed_tables": sum(1 for o in reloads if not o["ok"]),
        "jvm.gc_s": cycle["gc_s"],
        "op.other_s": sum(own[s["id"]] for s in spans if s["name"] in ROOT_SPANS),
    }


def per_layer(raw):
    """Median over the measured cycles of each per-layer value."""
    by_op = {}
    for s in raw["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    rows = [cycle_layers(c, by_op.get(c["op"], [])) for c in raw["cycles"]]
    return {k: nearest_rank([r[k] for r in rows], 0.5) for k in PER_LAYER}


def result(raw, traced):
    """The benchmark's result object (the last line run.py prints)."""
    values = per_layer(raw) if traced else end_to_end(raw)
    units = PER_LAYER if traced else END_TO_END
    attempted, failed, _ = failures(raw)
    # a metric with no base (NaN) means the run measured nothing for it
    finite = all(math.isfinite(values[k]) for k in units)
    return {
        "correct": correct(raw) and finite,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k] if math.isfinite(values[k]) else None,
                        "unit": units[k]} for k in units},
    }
