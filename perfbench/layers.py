"""Per-layer metrics of a traced run.

Every metric is a mean per timed op (so runs of different length
compare), except ``session.start_s`` (once per run),
``sources.snapshot_table.log_versions`` (at the end of the run) and
``trace.ops_per_s``.  Spark work counts against the layer whose span
launched it; ``operators.*`` is all Spark work the timed ops ran.
"""

from __future__ import annotations

from perfbench import trace

ST = "sources.snapshot_table"
STAGES = ("extract", "load_raw", "compute_daily_metrics",
          "enrich_indicators", "plot_report", "quality_checks")

UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.sched_delay_s": "s",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "operators.python_cpu_s": "s",
    "operators.python_bytes": "bytes",
    f"{ST}.commit_s": "s",
    f"{ST}.commits": "count",
    f"{ST}.commit_retries": "count",
    f"{ST}.replay_s": "s",
    f"{ST}.replays": "count",
    f"{ST}.log_versions": "count",
    f"{ST}.vacuum_s": "s",
    f"{ST}.compact_s": "s",
    f"{ST}.bytes_written": "bytes",
    **{f"pipeline.{s}_s": "s" for s in STAGES},
    "pipeline.jobs_per_day": "count",
    "pipeline.bytes_written_per_day": "bytes",
    "streaming.fold_s": "s",
    "streaming.rows_in": "count",
    "streaming.rows_committed": "count",
    "streaming.replayed_batches": "count",
    "streaming.maint_s": "s",
    "trace.ops_per_s": "ops/s",
}


def per_layer(tracer, events, result, wl) -> tuple[dict, dict]:
    spans = tracer.spans
    orphan = trace.attribute(spans, events)
    kids = trace.children(spans)
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["attrs"].get("timed")]
    n = len(ops)
    inside = []
    for op in ops:
        todo = [op]
        while todo:
            x = todo.pop()
            inside.append(x)
            todo.extend(kids.get(x["id"], []))

    def dur(s):
        return s["t1"] - s["t0"]

    def tsum(pred):
        return sum(dur(s) for s in inside if pred(s))

    def msum(key, pred=lambda s: True):
        return sum(s["m"].get(key, 0.0) for s in inside if pred(s))

    def count(pred):
        return sum(1 for s in inside if pred(s))

    def named(name, layer=ST):
        return lambda s: s["name"] == name and s["layer"] == layer

    plans = [s for s in inside if s["layer"] == "plans"]
    sinks = [s for s in inside if s["layer"] == "streaming"]
    session = [s for s in spans if s["layer"] == "session"]
    m = {
        "session.start_s": sum(dur(s) for s in session),
        "plans.build_s": sum(dur(s) for s in plans) / n,
        "plans.build_jobs": sum(trace.subtree_sum(s, kids, "jobs")
                                for s in plans) / n,
        "operators.exec_s": msum("job_s") / n,
        "operators.python_cpu_s": sum(s["attrs"].get("py_cpu_s", 0.0)
                                      for s in ops) / n,
    }
    for k in ("jobs", "stages", "tasks", "sched_delay_s", "task_run_s",
              "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "python_bytes"):
        m[f"operators.{k}"] = msum(k) / n
    in_commit = named("commit")
    m.update({
        f"{ST}.commit_s": (tsum(in_commit) + tsum(
            lambda s: named("_try_commit")(s)
            and not in_commit(by_id[s["parent"]]))) / n,
        f"{ST}.commits": count(lambda s: named("_try_commit")(s)
                               and s["attrs"].get("ok")) / n,
        f"{ST}.commit_retries": count(
            lambda s: named("_try_commit")(s)
            and s["attrs"].get("ok") is False) / n,
        f"{ST}.replay_s": tsum(named("current_snapshot")) / n,
        f"{ST}.replays": count(named("current_snapshot")) / n,
        f"{ST}.log_versions": float(getattr(wl, "log_versions",
                                            lambda: 0)()),
        f"{ST}.vacuum_s": tsum(named("vacuum")) / n,
        f"{ST}.compact_s": tsum(named("compact")) / n,
        f"{ST}.bytes_written": msum("output_bytes",
                                    lambda s: s["layer"] == ST) / n,
    })
    # every backfill_fold op is one day-run, so per op is per day
    for stage in STAGES:
        m[f"pipeline.{stage}_s"] = sum(
            trace.self_time(s, kids) for s in inside
            if named(stage, "pipeline")(s)) / n
    stage_spans = [s for s in inside if s["layer"] == "pipeline"]
    m["pipeline.jobs_per_day"] = sum(
        trace.subtree_sum(s, kids, "jobs") for s in stage_spans) / n
    m["pipeline.bytes_written_per_day"] = sum(
        trace.subtree_sum(s, kids, "output_bytes") for s in stage_spans) / n
    rows_in = len(sinks) * getattr(wl, "batch_rows", 0)
    committed = (wl.rows_committed() if hasattr(wl, "rows_committed")
                 else 0)
    m.update({
        "streaming.fold_s": sum(trace.self_time(s, kids)
                                for s in sinks) / n,
        "streaming.rows_in": rows_in / n,
        "streaming.rows_committed": committed / n,
        "streaming.replayed_batches": sum(
            1 for s in ops if s["attrs"].get("rerun")) / n,
        "streaming.maint_s": tsum(named("maintenance", "streaming.maint"))
        / n,
        "trace.ops_per_s": n / result["wall"],
    })
    assert set(m) == set(UNITS), set(m) ^ set(UNITS)
    extra = {
        "span_tree": trace.tree(spans, root_ids={ops[0]["id"], ops[-1]["id"]}
                                | {s["id"] for s in spans
                                   if s["parent"] is None
                                   and not s["attrs"].get("timed")}),
        "unattributed_jobs": int(orphan.get("jobs", 0)),
        "by_op": by_op(ops, kids),
        "slowest_op": slowest(ops, kids),
    }
    return m, extra


def slowest(ops, kids) -> dict:
    """The slowest timed op and the seconds its spans spent, by span
    name (outermost span of each name only)."""
    op = max(ops, key=lambda s: s["t1"] - s["t0"])
    parts: dict[str, float] = {}

    def walk(s, seen):
        for c in kids.get(s["id"], []):
            if c["name"] not in seen:
                parts[c["name"]] = parts.get(c["name"], 0.0) + (
                    c["t1"] - c["t0"])
            walk(c, seen | {c["name"]})

    walk(op, frozenset())
    return {"label": op["name"], "s": op["t1"] - op["t0"], "by_span": parts}


def by_op(ops, kids) -> dict:
    """Per op label: median latency, and for catalog entries the build /
    execute split and job count — so a later change can name a line."""
    import statistics

    rows: dict[str, list] = {}
    for op in ops:
        plans = [c for c in kids.get(op["id"], []) if c["layer"] == "plans"]
        execs = [c for c in kids.get(op["id"], [])
                 if c["layer"] == "operators"]
        rows.setdefault(op["name"], []).append((
            op["t1"] - op["t0"],
            sum(c["t1"] - c["t0"] for c in plans),
            sum(c["t1"] - c["t0"] for c in execs),
            trace.subtree_sum(op, kids, "jobs"),
            sum(trace.subtree_sum(c, kids, "jobs") for c in plans),
        ))
    out = {}
    for name, rs in rows.items():
        med = [statistics.median(col) for col in zip(*rs)]
        out[name] = {"n": len(rs), "op_s": med[0], "build_s": med[1],
                     "exec_s": med[2], "jobs": med[3], "build_jobs": med[4]}
    return out
