"""The benchmark's arithmetic: percentiles and the samples above them,
interval unions (idle time), spans and their self time, the per-layer
figures of one execution, and the check of metric names against
BENCHMARK.json. Pure functions over plain values, so each rule is
unit-tested on its own (perfbench/tests)."""

import math


def percentile(values, p):
    """The p-quantile (0 < p < 1) by linear interpolation between order
    statistics (the 'inclusive' method of statistics.quantiles)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    h = p * (len(xs) - 1)
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def count_above(values, threshold):
    return sum(1 for v in values if v > threshold)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_time(start, end, busy):
    """Time in [start, end] during which none of the `busy` intervals ran."""
    return (end - start) - union_length(busy, start, end)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children. `spans` are dicts with id, parent, start, end;
    returns {id: self_time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


PHASES = ("build", "plan", "exec", "sweep")


def _phase_bounds(e):
    return {"build": (e["start"], e["built"]), "plan": (e["built"], e["planned"]),
            "exec": (e["planned"], e["executed"]), "sweep": (e["executed"], e["end"])}


def _phase_of(bounds, t):
    for name in PHASES:
        a, b = bounds[name]
        if a <= t < b:
            return name
    return "exec" if t < bounds["sweep"][0] else "sweep"


def spans_of(e):
    """Spans of one traced execution (times in ms): query -> {build, plan,
    exec, sweep} -> job -> stage, and build/exec -> gate -> micro-batch."""
    q = e["id"]
    bounds = _phase_bounds(e)
    spans = [{"trace": q, "id": q, "parent": None, "name": "query:" + e["query"],
              "start": e["start"], "end": e["end"]}]
    for name in PHASES:
        a, b = bounds[name]
        spans.append({"trace": q, "id": f"{q}/{name}", "parent": q, "name": name,
                      "start": a, "end": b})
    for j in e.get("jobs", []):
        jid = f"{q}/job{j['id']}"
        end = j["end"] if j["end"] >= 0 else j["start"]
        spans.append({"trace": q, "id": jid, "parent": f"{q}/{_phase_of(bounds, j['start'])}",
                      "name": f"job {j['id']}", "start": j["start"], "end": end})
        for st in j["stages"]:
            st_end = st["end"] if st["end"] >= 0 else end
            spans.append({"trace": q, "id": f"{jid}/stage{st['id']}", "parent": jid,
                          "name": f"stage {st['id']}", "start": st["start"], "end": st_end})
    for g in e.get("streams", []):
        gid = f"{q}/gate:{g['run_id']}"
        g_end = g["end"] if g["end"] >= 0 else max(
            [g["start"]] + [b["start"] + b["trigger_ms"] for b in g["batches"]])
        spans.append({"trace": q, "id": gid, "parent": f"{q}/{_phase_of(bounds, g['start'])}",
                      "name": "gate " + g["name"], "start": g["start"], "end": g_end})
        for b in g["batches"]:
            spans.append({"trace": q, "id": f"{gid}/batch{b['batch']}", "parent": gid,
                          "name": f"micro-batch {b['batch']}", "start": b["start"],
                          "end": b["start"] + b["trigger_ms"]})
    return spans


MB = 1024.0 * 1024.0
BUILD_LAYERS = ("queries", "ops", "streaming")
# figures reported from the cold pass, where first-use costs land
COLD_FIGURES = ("jvm.jit_s", "codegen.compiles")


def layer_figures(e, k):
    """The per-layer figures of one traced execution (see BENCHMARK.json's
    per_layer list). Times in the record are epoch ms; figures are s/MB."""
    wall_ms = e["executed"] - e["start"]
    jobs = e.get("jobs", [])
    build_jobs = sum(1 for j in jobs if e["start"] <= j["start"] < e["built"])
    streams = e.get("streams", [])
    batches = [b for g in streams for b in g["batches"]]
    trigger_ms = sum(b["trigger_ms"] for b in batches)
    lifecycle_ms = sum((g["end"] if g["end"] >= 0 else g["start"]) - g["start"] for g in streams)
    phases = e.get("plan_phases_s", {})
    f = {
        "core.sweep_s": (e["end"] - e["executed"]) / 1000,
        "core.swept_rdds": e.get("swept_rdds", 0),
        "core.swept_cache_entries": e.get("swept_cache_entries", 0),
        "scan.input_mb": e.get("input_bytes", 0) / MB,
        "scan.input_rows": e.get("input_rows", 0),
        "plan.analysis_s": phases.get("analysis", 0.0),
        "plan.optimization_s": phases.get("optimization", 0.0),
        "plan.planning_s": phases.get("planning", 0.0),
        "exec.s": (e["executed"] - e["planned"]) / 1000,
        "exec.jobs": len(jobs),
        "exec.stages": sum(len(j["stages"]) for j in jobs),
        "exec.tasks": e.get("tasks", 0),
        "exec.failed_tasks": e.get("failed_tasks", 0),
        "exec.task_run_s": e.get("task_run_ms", 0) / 1000,
        "exec.task_cpu_s": e.get("task_cpu_ns", 0) / 1e9,
        "exec.task_gc_s": e.get("task_gc_ms", 0) / 1000,
        "exec.idle_s": idle_time(e["start"], e["executed"], e.get("task_intervals", [])) / 1000,
        "exec.wall_s": wall_ms / 1000,
        "shuffle.write_mb": e.get("shuffle_write_bytes", 0) / MB,
        "shuffle.read_mb": e.get("shuffle_read_bytes", 0) / MB,
        "shuffle.fetch_wait_s": e.get("fetch_wait_ms", 0) / 1000,
        "shuffle.spill_mb": e.get("spill_bytes", 0) / MB,
        "streaming.queries": len(streams),
        "streaming.batches": len(batches),
        "streaming.trigger_s": trigger_ms / 1000,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1000,
        "streaming.latest_offset_s": sum(b["latest_offset_ms"] for b in batches) / 1000,
        "streaming.query_planning_s": sum(b["query_planning_ms"] for b in batches) / 1000,
        "streaming.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1000,
        "streaming.lifecycle_s": (lifecycle_ms - trigger_ms) / 1000,
        "streaming.state_rows": sum(max([b["state_rows"] for b in g["batches"]] or [0])
                                    for g in streams),
        "streaming.state_mem_mb": sum(max([b["state_mem_bytes"] for b in g["batches"]] or [0])
                                      for g in streams) / MB,
        "sink.output_mb": e.get("output_bytes", 0) / MB,
        "sink.output_rows": e.get("output_rows", 0),
        "io.write_mb": e.get("wchar", 0) / MB,
        "io.read_mb": e.get("rchar", 0) / MB,
        "jvm.jit_s": e.get("jit_ms", 0) / 1000,
        "jvm.gc_s": e.get("gc_ms", 0) / 1000,
        "codegen.compiles": e.get("codegen_compiles", 0),
    }
    for layer in BUILD_LAYERS:
        mine = e["layer"] == layer
        f[f"{layer}.build_s"] = (e["built"] - e["start"]) / 1000 if mine else 0.0
        f[f"{layer}.build_jobs"] = build_jobs if mine else 0
    f["exec.slot_busy"] = f["exec.task_run_s"] / (f["exec.wall_s"] * k) if wall_ms > 0 else 0.0
    return f


def validate_metrics(metrics, bench, trace):
    """Problems with a result's metrics against BENCHMARK.json: the names
    must be exactly that file's end_to_end (trace 0) or per_layer (trace 1)
    names, each value a finite number in the declared unit."""
    declared = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    problems = []
    for name in sorted(set(declared) - set(metrics)):
        problems.append(f"missing metric {name}")
    for name in sorted(set(metrics) - set(declared)):
        problems.append(f"undeclared metric {name}")
    for name, m in metrics.items():
        if name not in declared:
            continue
        if m.get("unit") != declared[name]:
            problems.append(f"{name}: unit {m.get('unit')!r} is not {declared[name]!r}")
        v = m.get("value")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: value {v!r} is not a finite number")
    return problems
