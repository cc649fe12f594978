"""Per-layer metrics of a traced run, computed from its spans.

A root span is one op (or one engine probe, which runs just before a traced
SQL op on the same text). Every instant of an op's wall time is attributed
to one layer: to `exec` while a Spark job of the op runs, else to the
innermost benchmark span around it (`operators`, `io`, `streaming`, or
`exec` for a curation step's action), else to `unattributed`. The `self.*`
metrics are these shares per op: exec, calls (the three call layers
together) and unattributed add up to the mean op wall time of traced ops.

Counts are per op unless named otherwise. A layer a workload does not
exercise reads 0.
"""
import json
import statistics
from collections import defaultdict

MB = 1048576.0
UNITS = {
    "tables.load_ms": "ms", "tables.cached_mb": "MB",
    "engine.build_ms": "ms", "engine.sql_ms": "ms", "engine.rewrite_ms": "ms",
    "engine.plan_ms": "ms", "engine.plan_nodes": "count",
    "operators.build_ms": "ms", "operators.eager_jobs": "count",
    "operators.plan_nodes": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_ms": "ms", "exec.driver_ms": "ms", "exec.task_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.peak_exec_mem_mb": "MB",
    "exec.codegen_compiles": "count", "exec.codegen_compile_ms": "ms",
    "io.append_ms": "ms", "io.update_ms": "ms", "io.delete_ms": "ms",
    "io.optimize_ms": "ms", "io.bytes_written_mb": "MB", "io.write_amp": "ratio",
    "io.files_live": "count", "io.render_ms": "ms",
    "streaming.refresh_ms": "ms", "streaming.read_ratio": "ratio",
    "self.exec_ms": "ms", "self.calls_ms": "ms", "self.unattributed_ms": "ms",
    "self.operators_ms": "ms", "self.io_ms": "ms", "self.streaming_ms": "ms",
    "trace.overhead_pct": "%",
}
SELF_LAYERS = ["operators", "exec", "io", "streaming", "unattributed"]
# The metrics of the result line (BENCHMARK.json's per_layer): every one is
# measured on every workload, and no time among them reads 0 on one. The
# rest are printed by name only: they read 0 on a workload that never calls
# their layer.
RESULT = [
    "tables.load_ms", "tables.cached_mb", "engine.build_ms", "engine.plan_nodes",
    "operators.eager_jobs", "operators.plan_nodes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_delay_ms", "exec.driver_ms",
    "exec.task_ms", "exec.task_cpu_ms", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.peak_exec_mem_mb", "exec.codegen_compiles",
    "exec.codegen_compile_ms", "io.bytes_written_mb", "io.write_amp", "io.files_live",
    "streaming.read_ratio", "self.exec_ms", "self.calls_ms", "self.unattributed_ms",
    "trace.overhead_pct",
]
WRITE_KINDS = {"append", "ingest", "update", "delete", "optimize"}
READ_KINDS = {"point", "agg", "view"}


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _self_times(root, spans, by_id):
    """Nanoseconds of the root's wall attributed to each layer."""
    def depth(s):
        d = 0
        while s["parent"] and s["parent"] in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d
    marks = {root["start"], root["end"]}
    for s in spans:
        marks.update(x for x in (s["start"], s["end"]) if root["start"] < x < root["end"])
    marks = sorted(marks)
    inner = [(depth(s), s) for s in spans if not s["layer"].startswith("exec.")]
    jobs = [s for s in spans if s["layer"] == "exec.job"]
    out = defaultdict(int)
    for a, b in zip(marks, marks[1:]):
        mid = (a + b) / 2
        if any(j["start"] <= mid < j["end"] for j in jobs):
            layer = "exec"
        else:
            cover = [(d, s) for d, s in inner if s["start"] <= mid < s["end"]]
            layer = (max(cover, key=lambda x: x[0])[1]["layer"].split(".")[0]
                     if cover else "unattributed")
        out[layer] += b - a
    return out


def per_layer(report, spans_path):
    spans, tasks, notes = [], [], []
    with open(spans_path) as f:
        for line in f:
            r = json.loads(line)
            {"span": spans, "task": tasks, "note": notes}[r["kind"]].append(r)
    by_id = {s["id"]: s for s in spans}
    roots = {s["id"]: s for s in spans if s["parent"] == 0 and s["id"] == s["op"]}
    ops = {i: s for i, s in roots.items() if s["layer"] == "op"}
    probes = {i: s for i, s in roots.items() if s["layer"] == "probe"}
    children = defaultdict(list)
    for s in spans:
        if s["id"] not in roots:
            children[s["op"]].append(s)
    task_by = defaultdict(list)
    for t in tasks:
        task_by[t["op"]].append(t)
    note_by = defaultdict(lambda: defaultdict(list))
    for n in notes:
        note_by[n["op"]][n["name"]].append(n["value"])
    n_ops = max(1, len(ops))

    def per_op(fn):
        return sum(fn(i) for i in ops) / n_ops

    def note_sum(ids, name):
        return sum(v for i in ids for v in note_by[i][name])

    def jobs_of(i):
        return [s for s in children[i] if s["layer"] == "exec.job"]

    def dur(s):
        return (s["end"] - s["start"]) / 1e6

    def spans_named(layer, ids):
        return [s for i in ids for s in children[i] if s["layer"] == layer]

    def op_ms(kinds):
        return [dur(s) for s in ops.values() if s["name"] in kinds]

    selfs = defaultdict(int)
    for i, root in ops.items():
        for layer, ns in _self_times(root, children[i], by_id).items():
            selfs[layer] += ns
    render = []  # queryAs calls: the ops of sql_interactive, reads of ingest_mutate
    for i, root in ops.items():
        jobs = jobs_of(i)
        if jobs and (report["workload"] == "sql_interactive" or
                     root["name"] in READ_KINDS):
            render.append((root["end"] - max(j["end"] for j in jobs)) / 1e6)
    eager = 0
    for i in ops:
        builds = [s for s in children[i] if s["layer"] == "operators"]
        eager += sum(1 for j in jobs_of(i)
                     if any(b["start"] <= j["start"] < b["end"] for b in builds))
    sql_ms = [dur(s) for s in spans_named("engine.sql", probes)]
    spark_ms = [dur(s) for s in spans_named("engine.spark_sql", probes)]
    # refreshes with appended rows to fold; the others only list the log
    refresh_ids = [i for i, s in ops.items() if s["name"] == "refresh"
                   and note_sum([i], "appended_rows") > 0]
    appended = note_sum(refresh_ids, "appended_rows")
    user_bytes = note_sum(ops, "user_bytes")
    writes = [i for i, s in ops.items() if s["name"] in WRITE_KINDS]
    peak = max((t["peak_mem"] for t in tasks), default=0)

    traced = [o["ms"] for o in report["ops"] if o["ok"] and o["traced"]]
    untraced = [o["ms"] for o in report["ops"] if o["ok"] and not o["traced"]]
    overhead = (100.0 * (_mean(traced) / _mean(untraced) - 1.0)
                if traced and untraced else 0.0)
    setup = report["setup_layers"]
    m = {
        "tables.load_ms": setup.get("tables.load_ms", 0.0),
        "tables.cached_mb": setup.get("tables.cached_mb", 0.0),
        "engine.build_ms": setup.get("engine.build_ms", 0.0),
        "engine.sql_ms": _mean(sql_ms),
        "engine.rewrite_ms": _mean(sql_ms) - _mean(spark_ms) if sql_ms else 0.0,
        "engine.plan_ms": _mean([dur(s) for s in spans_named("engine.plan", probes)]),
        "engine.plan_nodes": _mean([v for i in probes for v in note_by[i]["plan_nodes"]]),
        "operators.build_ms": _mean([dur(s) for s in spans_named("operators", ops)]),
        "operators.eager_jobs": eager / n_ops,
        "operators.plan_nodes": _mean([v for i in ops for v in note_by[i]["plan_nodes"]]),
        "exec.jobs": per_op(lambda i: len(jobs_of(i))),
        "exec.stages": per_op(lambda i: sum(1 for s in children[i]
                                            if s["layer"] == "exec.stage")),
        "exec.tasks": per_op(lambda i: len(task_by[i])),
        "exec.sched_delay_ms": per_op(lambda i: sum(t["sched_ms"] for t in task_by[i])),
        "exec.driver_ms": per_op(lambda i: (ops[i]["end"] - ops[i]["start"] - _union(
            [(j["start"], j["end"]) for j in jobs_of(i)])) / 1e6),
        "exec.task_ms": per_op(lambda i: sum(t["run_ms"] for t in task_by[i])),
        "exec.task_cpu_ms": per_op(lambda i: sum(t["cpu_ns"] for t in task_by[i]) / 1e6),
        "exec.gc_ms": per_op(lambda i: sum(t["gc_ms"] for t in task_by[i])),
        "exec.shuffle_write_mb": per_op(
            lambda i: sum(t["shuffle_write"] for t in task_by[i]) / MB),
        "exec.shuffle_read_mb": per_op(
            lambda i: sum(t["shuffle_read"] for t in task_by[i]) / MB),
        "exec.spill_mb": per_op(lambda i: sum(t["spill"] for t in task_by[i]) / MB),
        "exec.peak_exec_mem_mb": peak / MB,
        "exec.codegen_compiles": note_sum(ops, "codegen_compiles") / n_ops,
        "exec.codegen_compile_ms": note_sum(ops, "codegen_compile_ms") / n_ops,
        "io.append_ms": _median(op_ms({"append", "ingest"})),
        "io.update_ms": _median(op_ms({"update"})),
        "io.delete_ms": _median(op_ms({"delete"})),
        "io.optimize_ms": _median(op_ms({"optimize"})),
        "io.bytes_written_mb": note_sum(writes, "bytes_written") / MB / max(1, len(writes)),
        "io.write_amp": note_sum(writes, "bytes_written") / user_bytes if user_bytes else 0.0,
        "io.files_live": float(report["checks"].get("files_live", {}).get("ev", 0)),
        "io.render_ms": _mean(render),
        "streaming.refresh_ms": _median([dur(ops[i]) for i in refresh_ids]),
        "streaming.read_ratio": (sum(t["records_read"] for i in refresh_ids
                                     for t in task_by[i]) / appended) if appended else 0.0,
        "trace.overhead_pct": overhead,
    }
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = selfs[layer] / 1e6 / n_ops
    # time inside calls into the program's layers, outside Spark jobs
    m["self.calls_ms"] = sum(selfs[x] for x in ("operators", "io", "streaming")) / 1e6 / n_ops
    return {k: m[k] for k in UNITS}
