"""Turns one raw result file of the benchmark JVM into the reported metrics.

Kept apart from run.py so the helpers (percentiles, pin comparison,
lateness accounting) can be tested without Spark: see test_metrics.py.
"""

import math
import statistics

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "catchup_eps": "events/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
}

MODULES = ("ops", "sources", "text", "similarity", "multimodal", "privacy", "contracts")

PER_LAYER = {
    "failed_frac": "ratio", "peak_rss_mb": "MB",
    "setup.session_s": "s", "setup.layout_s": "s", "setup.warm_s": "s",
    "trace.pass_s": "s", "trace.layer_gap_max": "ratio",
    "queries.build_s": "s", "queries.memo_builds": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.busy_frac": "ratio", "spark.empty_task_frac": "ratio",
    "graftshim.compiles": "count", "graftshim.compile_s": "s",
    "graftshim.compile_failures": "count",
    **{f"{m}.wall_s": "s" for m in MODULES},
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.batch_p99_ms": "ms", "streaming.add_batch_s": "s",
    "streaming.plan_s": "s", "streaming.offsets_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s", "streaming.late_dropped": "count",
    "streaming.kept_frac": "ratio", "streaming.latency_samples": "count",
    "gen.late_ms_p99": "ms", "gen.backlog_end": "count",
    "host.steal_s": "s",
}

# A latency p99 needs at least this many samples beyond it.
MIN_TAIL = 10


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_count(values, q):
    """How many samples rank beyond the q-th percentile's position. Ties
    count by rank: a sample whose top percent is one repeated value still
    supports its p99 when enough samples sit above that rank."""
    n = len(values)
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def lateness(due_ms, landed_ms):
    """Per-tick lateness of an open-loop feeder, never negative."""
    if len(due_ms) != len(landed_ms):
        raise ValueError("due and landed ticks differ in number")
    return [max(0.0, l - d) for d, l in zip(due_ms, landed_ms)]


def compare_pins(runs, pins, row_count_only):
    """Failures among query runs against pinned (rows, fingerprint) values.

    A run fails when it raised, when its row count differs from the pin, or
    (unless the query is listed as row-count-only) when its fingerprint
    differs. A query without a pin fails too: every measured query must be
    checked."""
    failures = []
    for r in runs:
        name = r["name"]
        pin = pins.get(name)
        if r.get("error"):
            failures.append(f"{name}: {r['error']}")
        elif pin is None:
            failures.append(f"{name}: no pinned output")
        elif r["rows"] != pin["rows"]:
            failures.append(f"{name}: {r['rows']} rows, pinned {pin['rows']}")
        elif name not in row_count_only and r["fp"] != pin["fp"]:
            failures.append(f"{name}: fingerprint {r['fp']}, pinned {pin['fp']}")
    return failures


def query_walls(passes):
    """Each query's median wall over the passes, in the order of a pass.
    Their sum stands for the wall of one pass: a burst of host contention
    that slows one query in one pass then moves neither."""
    names = [q["name"] for q in passes[0]["queries"]]
    return [statistics.median(q["wall_s"] for p in passes for q in p["queries"]
                              if q["name"] == n)
            for n in names]


def _per_pass(passes, key):
    return sum(q[key] for p in passes for q in p["queries"]) / len(passes)


def _exec_per_pass(passes, key):
    return sum(q["exec"].get(key, 0.0) for p in passes for q in p["queries"]) / len(passes)


def batch_metrics(raw, pins, cores):
    """(end_to_end, per_layer, attempted, failed, failure messages) of a
    batch run."""
    passes = raw["passes"]
    runs = raw["warm"] + [q for p in passes for q in p["queries"]]
    failures = compare_pins(runs, pins, set(raw["row_count_only"]))
    walls = query_walls(passes)
    pass_s = sum(walls)
    e2e = {
        "setup_s": raw["setup"]["total_s"],
        "pass_s": pass_s,
        "catchup_eps": raw["input_rows"] / pass_s,
        "latency_p50_s": percentile(walls, 0.50),
        "latency_p99_s": percentile(walls, 0.99),
    }
    exec_s = _per_pass(passes, "exec_s")
    tasks = _exec_per_pass(passes, "tasks")
    layer = {
        "trace.pass_s": pass_s,
        "trace.layer_gap_max": max(
            abs(q["build_s"] + q["plan_s"] + q["exec_s"] - q["wall_s"]) / q["wall_s"]
            for q in runs if q["wall_s"] > 0),
        "queries.build_s": _per_pass(passes, "build_s"),
        "queries.memo_builds": _per_pass(passes, "memo_builds"),
        "spark.plan_s": _per_pass(passes, "tracker_plan_s"),
        "spark.exec_s": exec_s,
        "spark.busy_frac": _exec_per_pass(passes, "task_run_s") / (exec_s * cores),
        "spark.empty_task_frac": _exec_per_pass(passes, "empty_tasks") / tasks if tasks else 0.0,
        "host.steal_s": _per_pass(passes, "steal_s"),
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_mb", "spill_mb"):
        layer[f"spark.{k}"] = _exec_per_pass(passes, k)
    for k in ("compiles", "compile_s", "compile_failures"):
        layer[f"graftshim.{k}"] = sum(q["codegen"].get(k, 0.0) for q in runs)
    for m in MODULES:
        layer[f"{m}.wall_s"] = sum(
            q["wall_s"] for p in passes for q in p["queries"] if q["module"] == m) / len(passes)
    return e2e, layer, len(runs), len(failures), failures


def stream_metrics(raw, cores):
    """(end_to_end, per_layer, attempted, failed, failure messages) of a
    stream run."""
    lat = raw["latencies_ms"]
    if tail_count(lat, 0.99) < MIN_TAIL:
        raise ValueError(f"only {len(lat)} latency samples: too few for a p99")
    # the catch-up drains several equal backlogs one after another
    pass_s = statistics.median(d["wall_s"] for d in raw["drains"])
    e2e = {
        "setup_s": raw["setup"]["total_s"],
        "pass_s": pass_s,
        "catchup_eps": statistics.median(d["events"] / d["wall_s"] for d in raw["drains"]),
        "latency_p50_s": percentile(lat, 0.50) / 1e3,
        "latency_p99_s": percentile(lat, 0.99) / 1e3,
    }
    mb = raw["microbatches"]
    dur = [b["duration_ms"].get("triggerExecution", 0) for b in mb]
    ex = raw["exec"]

    def dsum(key):
        return sum(b["duration_ms"].get(key, 0) for b in mb) / 1e3

    exec_s = raw["measured_s"]
    layer = {
        "trace.pass_s": pass_s,
        "trace.layer_gap_max": 0.0,
        "queries.build_s": 0.0, "queries.memo_builds": 0.0,
        "spark.plan_s": dsum("queryPlanning"),
        "spark.exec_s": exec_s,
        "spark.busy_frac": ex.get("task_run_s", 0.0) / (exec_s * cores),
        "spark.empty_task_frac":
            ex.get("empty_tasks", 0.0) / ex["tasks"] if ex.get("tasks") else 0.0,
        "streaming.batches": float(len(mb)),
        "streaming.batch_p50_ms": percentile(dur, 0.50) if dur else 0.0,
        "streaming.batch_p99_ms": percentile(dur, 0.99) if dur else 0.0,
        "streaming.add_batch_s": dsum("addBatch"),
        "streaming.plan_s": dsum("queryPlanning"),
        "streaming.offsets_s": dsum("latestOffset"),
        "streaming.commit_s": dsum("commitOffsets") + dsum("walCommit"),
        "streaming.state_rows": float(max((b["state_rows"] for b in mb), default=0)),
        "streaming.state_mb": max((b["state_bytes"] for b in mb), default=0) / 1048576.0,
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in mb) / 1e3,
        "streaming.late_dropped": float(sum(b["late_dropped"] for b in mb)),
        "streaming.kept_frac": raw["kept_frac"],
        "streaming.latency_samples": float(len(lat)),
        "gen.late_ms_p99": percentile(lateness(raw["gen_due_ms"], raw["gen_landed_ms"]), 0.99),
        "gen.backlog_end": float(raw["backlog_end"]),
        "host.steal_s": raw["steal_s"],
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_mb", "spill_mb"):
        layer[f"spark.{k}"] = ex.get(k, 0.0)
    for k in ("compiles", "compile_s", "compile_failures"):
        layer[f"graftshim.{k}"] = raw["codegen"].get(k, 0.0)
    for m in MODULES:
        layer[f"{m}.wall_s"] = 0.0
    return e2e, layer, raw["attempted"], raw["failed"], raw["failures"]


def common_layers(raw):
    """Set-up steps and process memory, recorded by every workload."""
    layers = {f"setup.{k}": raw["setup"][k] for k in ("session_s", "layout_s", "warm_s")}
    layers["peak_rss_mb"] = raw["peak_rss_mb"]
    return layers
