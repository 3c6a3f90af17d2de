"""The repo's benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {catalog_mix,backfill_fold}
        --seed N --seconds S --trace {0,1} [--size SIZE]

The run generates its inputs from ``--seed``, starts one Spark session
on ``local[<cores>]`` (``perfbench/box.py`` pins the box), prepares the
workload's state, then runs ops back to back — the next op starts when
the previous one has returned — until ``--seconds`` of op time have
passed and the workload's current cycle is complete, so every run has
the same mix of ops.  Every op's output is checked outside the timing.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``failed`` counts ops
that raised or failed their check (the run's fail ratio is
failed/attempted).  With ``--trace 0`` the metrics are the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` the run is traced
(``perfbench/trace.py``) and the metrics are the per-layer ones.  The
full record — box, input hash, cycle count, per-op latencies, and
for a traced run the span tree — goes to
``.perfbench/results/<workload>/<size>_c<cores>/seed<N>_trace<T>.json``.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms steps)."""
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    return up - start / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "airflow_crypto_btc_spark")
STATE = os.path.join(ROOT, ".perfbench")

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default=None,
                    help="input size (default: the workload's own)")
    return ap.parse_args(argv)


def install_wraps(tracer) -> None:
    """Spans around each layer's public functions (traced runs only)."""
    from airflow_crypto_btc_spark import pipeline
    from airflow_crypto_btc_spark.sources import snapshot_table as st
    from perfbench.layers import STAGES

    layer = "sources.snapshot_table"
    for fn in ("current_snapshot", "commit", "_try_commit", "vacuum"):
        tracer.wrap(st, fn, layer, jobs=False)
    for fn in ("append", "overwrite", "upsert", "compact", "read_snapshot",
               "read_parts", "files_overlapping_keys",
               "files_overlapping_all_keys", "apply_changes"):
        tracer.wrap(st, fn, layer)
    for fn in ("normalize_klines", *STAGES):
        tracer.wrap(pipeline, fn, "pipeline")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG):
        print(f"perfbench: no package at {PKG}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import box, trace
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    W = WORKLOADS[args.workload]
    size = args.size or W.default_size
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run finally
    reap_dead_runs()
    run_dir = os.path.join(
        STATE, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    confs = box.pin(ROOT, run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{log_dir}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    spark = None
    try:
        with tracer.span("get_spark", "session", jobs=False):
            from airflow_crypto_btc_spark.plans import catalog  # noqa: F401
            from airflow_crypto_btc_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=confs)
        if args.trace:
            tracer.bind(spark)
            install_wraps(tracer)
        ctx = Ctx(spark, args.seed, size, run_dir, tracer)
        box.redirect_landing_zones(ctx.landing)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        wl = W(ctx)
        input_hash = wl.inputs()
        with tracer.span("setup", "workload"):
            wl.setup()
        setup_s = time.perf_counter() - T_START
        result = timed_loop(wl, args.seconds, tracer, jvm_pid)
        problems = result.pop("problems")
        try:
            problems += wl.final_check()
        except Exception as exc:  # noqa: BLE001 — an incorrect run
            problems.append(f"final check: {type(exc).__name__}: {exc}"[:300])
        info = {
            "workload": args.workload, "seed": args.seed, "size": size,
            "seconds": args.seconds, "trace": args.trace,
            "input_sha256": input_hash, "box": box.describe(ROOT, spark),
            "start_state": {"run_dir": os.path.relpath(run_dir, ROOT),
                            "empty_at_start": True},
            "cycles": len(result["cycle_max"]), "n_ops": result["n"],
            "problems": problems[:20],
        }
        peak = trace.vm_hwm_mb(jvm_pid) + trace.vm_hwm_mb()
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (result["n"] / result["wall"], "ops/s"),
            "op_p50_s": (statistics.median(result["lat"]), "s"),
            # the slowest op of a cycle, median over cycles: a percentile
            # over ops would change meaning with the number of cycles a
            # run fits, i.e. with the program's speed
            "op_tail_s": (statistics.median(result["cycle_max"]), "s"),
            "peak_rss_mb": (peak, "MiB"),
            "stored_bytes_ratio": (wl.stored_bytes_ratio(), "ratio"),
        }
        record = {"info": info, "latencies": result["lat"],
                  "labels": result["labels"],
                  "end_to_end": {k: v for k, (v, _) in metrics.items()}}
        if args.trace:
            from perfbench import layers

            tracer.restore()
            spark.stop()  # flushes the event log
            spark = None
            per_layer, extra = layers.per_layer(
                tracer, trace.read_event_log(log_dir), result, wl)
            record["per_layer"] = per_layer
            record.update(extra)
            out_metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                           for k, v in per_layer.items()}
        else:
            out_metrics = {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}
        correct = not problems and result["failed"] == 0
        info["record"] = os.path.relpath(save(args, size, record), ROOT)
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": correct,
                          "attempted": result["attempted"],
                          "failed": result["failed"],
                          "metrics": out_metrics}))
        return 0
    finally:
        try:
            tracer.restore()
        finally:
            try:
                stop_spark(spark)
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, state, start time) of every process."""
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "(comm)": state=0 ppid=1 ... starttime=19
        table[int(p)] = (int(f[1]), f[0], f[19])
    return table


def _descendants() -> dict[int, str]:
    """pid -> start time of every live descendant of this process."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            if table[k][1] != "Z":
                out[k] = table[k][2]
                todo.append(k)
    return out


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait up to ``timeout`` s for ``procs`` to end; returns the live ones."""
    deadline = time.monotonic() + timeout
    while True:
        table = _proc_table()
        live = {p: st for p, st in procs.items()
                if p in table and table[p][2] == st and table[p][1] != "Z"}
        if not live or time.monotonic() >= deadline:
            return live
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark and every process it started — the JVM and its Python
    workers — and wait until each has ended.  The JVM otherwise exits on
    its own only after this process has (it watches its stdin), so it
    would outlive the run."""
    from pyspark import SparkContext

    procs = _descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception as exc:  # noqa: BLE001 — e.g. a signal cut a call
        print(f"perfbench: spark.stop: {type(exc).__name__}: {exc}",
              file=sys.stderr)
    finally:
        procs.update(_descendants())
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()  # EOF: the gateway JVM exits
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a hung JVM is killed
                proc.kill()
                proc.wait()
        if gw is not None:
            gw.close()
            SparkContext._gateway = SparkContext._jvm = None
        live = _wait_gone(procs, 10)
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        for pid in live:
            try:
                os.waitpid(pid, 0)  # reap it if it is this process's child
            except ChildProcessError:
                pass
        _wait_gone(live, 30)


def reap_dead_runs() -> None:
    """Remove run directories whose process is gone (a killed run)."""
    runs = os.path.join(STATE, "run")
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def _call(label: str, fn, *args) -> tuple:
    """``(fn(*args), [])``, or ``(None, [problem])`` if it raised."""
    try:
        return fn(*args), []
    except Exception as exc:  # noqa: BLE001 — counted as failed
        return None, [f"{label}: {type(exc).__name__}: {exc}"[:300]]


def timed_loop(wl, seconds: float, tracer, jvm_pid: int) -> dict:
    """Closed loop over ``wl.ops()`` until ``seconds`` of op time have
    passed at a cycle boundary.  Preparation and check time are excluded
    from the clock; an op whose preparation, run or check raised, or
    whose check found a problem, counts as failed."""
    from perfbench.trace import python_worker_cpu_s

    lat, labels, problems, cycle_max = [], [], [], []
    attempted = failed = 0
    slowest = 0.0
    t0 = time.perf_counter()
    excluded = 0.0
    for op in wl.ops():
        attempted += 1
        x = time.perf_counter()
        _, bad = _call(op.label, op.pre) if op.pre else (None, [])
        if tracer.enabled:
            py0 = python_worker_cpu_s(jvm_pid)
        excluded += time.perf_counter() - x
        if not bad:
            with tracer.span(op.label, "op", timed=True,
                             rerun=op.rerun) as s:
                ts = time.perf_counter()
                res, bad = _call(op.label, op.run)
                te = time.perf_counter()
            lat.append(te - ts)
            labels.append(op.label)
            slowest = max(slowest, te - ts)
            x = time.perf_counter()
            if tracer.enabled:
                s["attrs"]["py_cpu_s"] = python_worker_cpu_s(jvm_pid) - py0
            if not bad:
                found, bad = _call(op.label, op.check, res)
                bad = bad or found
            excluded += time.perf_counter() - x
        if bad:
            failed += 1
            problems += bad
        if op.boundary:
            cycle_max.append(slowest)
            slowest = 0.0
            if time.perf_counter() - t0 - excluded >= seconds:
                break
    wall = time.perf_counter() - t0 - excluded
    return {"lat": lat, "labels": labels, "n": len(lat),
            "attempted": attempted, "failed": failed, "wall": wall,
            "cycle_max": cycle_max, "problems": problems}


def save(args, size, record) -> str:
    from perfbench import box

    d = os.path.join(STATE, "results", args.workload, f"{size}_c{box.cpus()}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path


if __name__ == "__main__":
    sys.exit(main())
