"""Metrics from the client's raw records: the end-to-end metrics of an
untraced run, and from a traced run the per-layer metrics and the
per-query (or per-op-type) sidecar."""
from stats import coverage, geomean, median, percentile, self_times, union_length

PHASES = ("analysis", "optimization", "planning")
COUNTS = ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
          "input_records", "input_tasks", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes")


def op_type(op):
    """Registry ops are typed by query, store ops by kind and GET variant."""
    if "q" in op:
        return op["q"]
    return op["kind"] + ("/" + op["sub"] if op["sub"] else "")


def op_output(op):
    return op["rows"] if "q" in op else op["cells"]


def end_to_end(raw, ops):
    """ops: the run's successful timed ops. Loop wall time is summed over
    timed units (registry passes, store_ops blocks)."""
    info = raw["info"]
    times = [o["ms"] for o in ops]
    units = {}
    for o in ops:
        units.setdefault(o["unit"], []).append(o)
    wall_ms = sum(max(o["start_ms"] + o["ms"] for o in us) - min(o["start_ms"] for o in us)
                  for us in units.values())
    by_type = {}
    for o in ops:
        by_type.setdefault(op_type(o), []).append(o["ms"])
    return {
        "setup_s": ((raw["setup_end_ms"] - info["process_start_ms"]) / 1000.0, "s"),
        "ops_per_s": (len(ops) / (wall_ms / 1000.0), "1/s"),
        "op_ms_p75": (percentile(times, 75), "ms"),
        "geomean_ms": (geomean([median(v) for v in by_type.values()]), "ms"),
    }


def op_layers(root, spans):
    """Layer breakdown of one traced op from its spans."""
    kids = [s for s in spans if s["parent"] == root["id"]]
    stages = [s for s in spans if s["name"] == "stage"]
    execs = [s for s in kids if s["name"] == "execution"]
    selfs = self_times(spans)
    counts = {k: sum(s["counts"][k] for s in stages) for k in COUNTS}
    tasks = [t for s in stages for t in s["tasks"]]
    dur = root["end"] - root["start"]
    out = {
        "ms": dur,
        "fn_ms": sum(s["end"] - s["start"] for s in kids if s["name"] == "fn"),
        "write_ms": sum(s["end"] - s["start"] for s in kids if s["name"] == "write"),
        "exec_ms": union_length([(s["start"], s["end"]) for s in execs]),
        "exec_driver_ms": sum(selfs[s["id"]] for s in execs),
        "unattributed_ms": selfs[root["id"]],
        "jobs": sum(1 for s in spans if s["name"] == "job"),
        "stages": len(stages),
        "no_task_ms": dur - union_length(tasks, root["start"], root["end"]),
        "coverage": coverage(root, kids),
    }
    for p in PHASES:
        out[p + "_ms"] = sum(s["end"] - s["start"] for s in kids if s["name"] == p)
    out.update(counts)
    return out


def traced_ops(raw, ops):
    """(op record, layer breakdown) for every traced op with spans."""
    by_op = {}
    for s in raw["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    index = {id(o): n for n, o in enumerate(raw["ops"])}
    out = []
    for o in ops:
        spans = by_op.get(index[id(o)])
        if o["traced"] and spans:
            root = next(s for s in spans if s["parent"] is None)
            out.append((o, op_layers(root, spans)))
    return out


def overhead_ratio(ops):
    """Geometric mean over op types of traced over untraced median time."""
    ratios = []
    by_type = {}
    for o in ops:
        by_type.setdefault(op_type(o), {}).setdefault(o["traced"], []).append(o["ms"])
    for v in by_type.values():
        if v.get(True) and v.get(False):
            ratios.append(median(v[True]) / median(v[False]))
    return geomean(ratios)


def per_layer(raw, ops, cores):
    traced = traced_ops(raw, ops)
    if not traced:
        raise RuntimeError("no traced ops with spans")
    layers = [lay for _, lay in traced]

    def mean(key):
        return sum(lay[key] for lay in layers) / len(layers)

    out_rows = sum(op_output(o) for o, _ in traced)
    total_ms = sum(lay["ms"] for lay in layers)
    m = {
        "SparkEntry.fn_ms": (mean("fn_ms"), "ms"),
        "plans.analysis_ms": (mean("analysis_ms"), "ms"),
        "plans.optimization_ms": (mean("optimization_ms"), "ms"),
        "plans.planning_ms": (mean("planning_ms"), "ms"),
        "plans.optimization_ms_p50": (median([lay["optimization_ms"] for lay in layers]), "ms"),
        "plans.exec_driver_ms": (mean("exec_driver_ms"), "ms"),
        "sources.scan_bytes": (mean("input_bytes"), "bytes"),
        "sources.scan_records": (mean("input_records"), "count"),
        "sources.scan_tasks": (mean("input_tasks"), "count"),
        "sources.records_per_row": (sum(lay["input_records"] for lay in layers) / max(out_rows, 1), "ratio"),
        "exchange.stages": (mean("stages"), "count"),
        "exchange.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "exchange.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
        "exchange.spill_bytes": (mean("spill_bytes"), "bytes"),
        "functions.task_cpu_ms": (mean("cpu_ns") / 1e6, "ms"),
        "tasks.exec_ms": (mean("exec_ms"), "ms"),
        "tasks.jobs": (mean("jobs"), "count"),
        "tasks.count": (mean("tasks"), "count"),
        "tasks.run_ms": (mean("run_ms"), "ms"),
        "tasks.gc_ms": (mean("gc_ms"), "ms"),
        "tasks.failed": (sum(lay["failed_tasks"] for lay in layers), "count"),
        "tasks.no_task_ms": (mean("no_task_ms"), "ms"),
        "tasks.core_busy": (sum(lay["run_ms"] for lay in layers) / (total_ms * cores), "ratio"),
        "trace.unattributed_ms": (mean("unattributed_ms"), "ms"),
        "trace.coverage_min": (min(lay["coverage"] for lay in layers), "ratio"),
        "trace.coverage_p50": (median([lay["coverage"] for lay in layers]), "ratio"),
        "trace.overhead_ratio": (overhead_ratio(ops), "ratio"),
    }
    return m, traced


SIDECAR_FIELDS = ("fn_ms", "write_ms", "analysis_ms", "optimization_ms", "planning_ms",
                  "exec_ms", "exec_driver_ms", "jobs", "stages", "tasks", "input_tasks",
                  "input_records", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "run_ms", "cpu_ns", "no_task_ms", "coverage")


def sidecar(ops, traced, modules):
    """Per op type: every timed latency (untraced and traced) and the mean
    layer breakdown of its traced ops; per owning module, the median over
    passes of the seconds its queries took."""
    types = {}
    for o in ops:
        t = types.setdefault(op_type(o), {"untraced_ms": [], "traced_ms": [], "layers": []})
        t["traced_ms" if o["traced"] else "untraced_ms"].append(round(o["ms"], 3))
    for o, lay in traced:
        types[op_type(o)]["layers"].append(lay)
    for name, t in types.items():
        lays = t.pop("layers")
        if lays:
            t["layers"] = {f: round(sum(x[f] for x in lays) / len(lays), 3) for f in SIDECAR_FIELDS}
        if modules:
            t["module"] = modules.get(name)
    out = {"types": types}
    if modules:
        per_pass = {}
        for o in ops:
            mod = modules.get(o["q"], "?")
            key = (mod, o["pass"])
            per_pass[key] = per_pass.get(key, 0.0) + o["ms"] / 1000.0
        mods = {}
        for (mod, _), s in per_pass.items():
            mods.setdefault(mod, []).append(s)
        out["operators"] = {f"operators.{m}.s": round(median(v), 4) for m, v in sorted(mods.items())}
    return out
