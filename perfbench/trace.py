"""Spans and counters around the benchmark's calls into each layer.

A traced run wraps the public functions a workload calls into
(``Tracer.wrap``) and opens one span per call: name, layer, start, end
and parent, kept in memory and written out once the run ends.  Spans
that can launch Spark work set a job group (``pb-<span id>``), so the
jobs, stages and tasks in Spark's local event log are attributed to
the innermost such span (``attribute``).  A layer's self time is its
span time minus the part its child spans cover (``self_time``).

An untraced run uses the no-op twin (``NullTracer``): nothing is
wrapped, no job groups are set and no event log is written.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "airflow_crypto_btc_spark."


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, layer, jobs=True, **attrs):
        yield {}

    def restore(self):
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _group_of(self, frames) -> str | None:
        for s in reversed(frames):
            if s["group"]:
                return s["group"]
        return None

    @contextmanager
    def span(self, name, layer, jobs=True, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "parent": parent, "name": name,
             "layer": layer, "group": None, "attrs": dict(attrs)}
        self.spans.append(s)
        self._stack.append(s)
        if jobs and self.sc is not None:
            s["group"] = f"pb-{s['id']}"
            self.sc.setJobGroup(s["group"], name)
        s["t0"] = time.perf_counter()
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            self._stack.pop()
            if s["group"] and self.sc is not None:
                outer = self._group_of(self._stack)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, layer: str, jobs: bool = True) -> None:
        """Open a span named ``attr`` around every call of
        ``module.attr``, wherever the package bound that function
        (``from x import f`` copies)."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(attr, layer, jobs=jobs) as s:
                out = fn(*a, **kw)
                if isinstance(out, bool):
                    s["attrs"]["ok"] = out
                return out

        for modname, mod in list(sys.modules.items()):
            if (mod is module or modname.startswith(PKG)) and getattr(
                mod, attr, None
            ) is fn:
                setattr(mod, attr, traced)
                self._patched.append((mod, attr, fn))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


# ------------------------------------------------------------ span algebra


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def self_time(s: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the union of its direct children's intervals
    (children are sequential in a single-threaded client, so the union
    is their sum)."""
    return (s["t1"] - s["t0"]) - sum(
        c["t1"] - c["t0"] for c in kids.get(s["id"], []))


#: children listed per span in a span tree; the rest are counted
MAX_CHILDREN = 40


def tree(spans: list[dict], root_ids: set[int]) -> list:
    """Nested, JSON-ready span tree below ``root_ids`` (durations in
    seconds)."""
    kids = children(spans)
    roots = [s for s in spans if s["id"] in root_ids]

    def node(s):
        n = {"name": s["name"], "layer": s["layer"],
             "s": round(s["t1"] - s["t0"], 6)}
        for k in ("jobs", "stages", "tasks"):
            if s.get(k):
                n[k] = s[k]
        ks = kids.get(s["id"], [])
        if ks:
            n["children"] = [node(c) for c in ks[:MAX_CHILDREN]]
            if len(ks) > MAX_CHILDREN:
                n["children_omitted"] = len(ks) - MAX_CHILDREN
        return n

    return [node(s) for s in roots]


# ------------------------------------------------------- python worker CPU


def _stat(pid: str) -> tuple[int, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14 (clock ticks)
    return int(f[1]), sum(int(x) for x in f[11:15])


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's ``pyspark.daemon`` tree: each daemon's own
    and reaped children's time plus its live workers' time."""
    tick = os.sysconf("SC_CLK_TCK")
    ppid_of, cpu_of, daemons = {}, {}, []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        st = _stat(p)
        if st is None:
            continue
        ppid_of[int(p)], cpu_of[int(p)] = st
        if st[0] == jvm_pid:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as fh:
                    if b"pyspark.daemon" in fh.read():
                        daemons.append(int(p))
            except OSError:
                pass
    ds = set(daemons)
    total = sum(cpu_of[d] for d in ds)
    total += sum(c for p, c in cpu_of.items() if ppid_of[p] in ds)
    return total / tick


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


_PY_METRICS = ("data sent to Python workers",
               "data returned from Python workers")


def attribute(spans: list[dict], events: list[dict]) -> dict:
    """Fold the event log's jobs, stages and tasks into the spans whose
    job group launched them.  Adds per-span counters in place and
    returns the totals of work no span claimed."""
    by_group = {s["group"]: s for s in spans if s["group"]}
    stage_span: dict[int, dict | None] = {}
    zero = lambda: defaultdict(float)  # noqa: E731
    for s in spans:
        s["m"] = zero()
    orphan = {"m": zero()}
    job_span: dict[int, tuple[dict, int]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            s = by_group.get(g, orphan)
            s["m"]["jobs"] += 1
            job_span[e["Job ID"]] = (s, e.get("Submission Time", 0))
            for sid in e.get("Stage IDs", []):
                stage_span[sid] = s
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            s, t0 = job_span[e["Job ID"]]
            s["m"]["job_s"] += (e.get("Completion Time", t0) - t0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage_span.get(info["Stage ID"], orphan)
            s["m"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            s = stage_span.get(e["Stage ID"], orphan)
            m = s["m"]
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            m["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            m["task_run_s"] += run_ms / 1e3
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            m["sched_delay_s"] += max(
                0, dur - run_ms - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0)) / 1e3
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for acc in ti.get("Accumulables", []):
                if acc.get("Name") in _PY_METRICS:
                    try:
                        m["python_bytes"] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    for s in spans:
        for k in ("jobs", "stages", "tasks"):
            if s["m"].get(k):
                s[k] = int(s["m"][k])
    return orphan["m"]


def subtree_sum(s: dict, kids: dict[int, list[dict]], key: str) -> float:
    """``key`` summed over ``s`` and every span below it."""
    total, todo = 0.0, [s]
    while todo:
        x = todo.pop()
        total += x["m"].get(key, 0.0)
        todo.extend(kids.get(x["id"], []))
    return total
