"""The benchmark workloads.

Each workload prepares its inputs and state in ``setup`` (seeded, never
timed as an op), then yields ops — one unit of work each — from ``ops``.
An op is ``Op(label, run, check)``: ``run()`` is the timed call, and
``check(result)`` returns the problems found in its output, outside the
timing.  ``final_check`` runs once after the timed section.

- ``catalog_mix``: catalog entries, run as whole passes in a seeded
  order; every result is compared with the entry's DuckDB oracle.
- ``backfill_fold``: per op, one day-run of a seeded hourly klines page
  through ``pipeline.normalize_klines`` -> ``pipeline.run_day``, then one
  seeded ``events`` micro-batch folded by a long-lived
  ``rollup_maintenance_sink`` over a state table whose log was aged in
  set-up; every cycle replays the same days, re-run, re-delivery,
  compact and vacuum from the same post-setup state.

In both, every cycle is the same work, so a faster program runs more
cycles of it, never different work.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]
    #: the op ends a cycle, so a time-bounded run may stop after it
    boundary: bool = True
    rerun: bool = False
    #: untimed preparation (e.g. the row counts a re-run must keep)
    pre: Callable[[], Any] | None = None


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def _compare(name, spark_pdf, oracle_pdf) -> list[str]:
    from tools.oracle_check import compare

    return compare(name, spark_pdf, oracle_pdf)


class Ctx:
    """What a workload gets: the session, its seed and size, the run's
    scratch directory and the tracer."""

    def __init__(self, spark, seed, size, run_dir, tracer):
        self.spark, self.seed, self.size = spark, seed, size
        self.run_dir, self.tracer = run_dir, tracer
        #: where the catalog's persisted indexes and models land
        self.landing = os.path.join(run_dir, "landing")

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


# ------------------------------------------------------------ catalog_mix


class CatalogMix:
    """Analytics and curation queries, read-mostly.

    The mix keeps one entry per kind of work: eager k-means training
    inside plan build, a persisted-index serve (snapshot-table reads), a
    persisted-model tokenizer and simhash (Arrow Python workers),
    shuffle-heavy LSH dedup, a TPC-H join and an as-of join on
    ``events``.
    """

    name = "catalog_mix"
    default_size = "sf0.01"
    ENTRIES = (
        "sim_kmeans_centroids",
        "search_bm25_from_index",
        "text_bpe_encode_from_model",
        "dedup_simhash",
        "dedup_minhash_lsh_pairs",
        "q3_shipping_priority",
        "asof_purchase_last_error",
    )
    WARM_PASSES = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.run_dir, "data", ctx.size)
        self._oracle: dict[str, Any] = {}

    def inputs(self) -> str:
        tables = gen.catalog_tables(self.ctx.seed, self.ctx.size)
        input_hash = gen.write_tables(tables, self.data_dir)
        self.input_bytes = du(self.data_dir)
        return input_hash

    def setup(self) -> None:
        import duckdb

        from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

        self.specs = {n: ALL_QUERIES[n] for n in self.ENTRIES}
        self.order = list(self.ENTRIES)
        self.ctx.rng(2).shuffle(self.order)
        self.con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            self.con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * "
                             f"FROM '{self.data_dir}/{f}'")
        # the first pass lands every persisted index/model the serves
        # read; the JIT needs a second one before an entry's time settles
        # (sim_kmeans_centroids: 2.3 s on the second pass, 1.7 s after).
        # Users pay this once per session.
        for _ in range(self.WARM_PASSES):
            for name in self.order:
                self._run(name)

    def _run(self, name: str):
        t = self.ctx.tracer
        with t.span(name, "plans", entry=name):
            df = self.specs[name].fn(self.ctx.spark, self.data_dir)
        with t.span(f"{name}.collect", "operators", entry=name):
            return df.toPandas()

    def _check(self, name: str, pdf) -> list[str]:
        if name not in self._oracle:
            self._oracle[name] = self.con.execute(self.specs[name].sql).df()
        return _compare(name, pdf, self._oracle[name])

    def ops(self) -> Iterator[Op]:
        while True:
            for i, name in enumerate(self.order):
                yield Op(
                    name,
                    lambda n=name: self._run(n),
                    lambda pdf, n=name: self._check(n, pdf),
                    boundary=i == len(self.order) - 1,
                )

    def final_check(self) -> list[str]:
        return []

    def stored_bytes_ratio(self) -> float:
        """Persisted serve state (landed indexes and models) per input
        byte."""
        return du(self.ctx.landing) / self.input_bytes


# ---------------------------------------------------------- backfill_fold


def klines_pages(rng: np.random.Generator, n_days: int) -> list[list[list]]:
    """Hourly Binance klines pages, one per day from 2024-01-01: 24
    candles, one of them delivered twice (an API replay duplicate), and
    about one day in six missing 1-4 hours (20-23 distinct candles)."""
    import datetime as dt

    pages, price = [], 42_000.0
    for d in range(n_days):
        day0 = int((gen.DAY0 + dt.timedelta(days=d)).replace(
            tzinfo=dt.timezone.utc).timestamp() * 1000)
        hours = list(range(24))
        if rng.random() < 1 / 6:
            drop = rng.choice(24, int(rng.integers(1, 5)), replace=False)
            hours = [h for h in hours if h not in set(drop.tolist())]
        page = []
        for h in hours:
            o = price
            price = round(price * float(np.exp(rng.normal(0, 0.004))), 2)
            hi = round(max(o, price) * (1 + abs(rng.normal(0, 0.001))), 2)
            lo = round(min(o, price) * (1 - abs(rng.normal(0, 0.001))), 2)
            vol = round(float(rng.uniform(10, 500)), 5)
            t = day0 + h * 3_600_000
            page.append([t, f"{o:.2f}", f"{hi:.2f}", f"{lo:.2f}",
                         f"{price:.2f}", f"{vol:.5f}", t + 3_599_999,
                         f"{vol * price:.4f}", int(rng.integers(100, 5000)),
                         f"{vol / 2:.5f}", f"{vol * price / 2:.4f}", "0"])
        dup = int(rng.integers(0, len(page)))
        page.insert(dup + 1, list(page[dup]))
        pages.append(page)
    return pages


class DayRuns:
    """The reference DAG's ``catchup=True`` backfill: one day-run per
    seeded klines page into a pipeline warehouse."""

    def __init__(self, ctx: Ctx, n_days: int):
        from airflow_crypto_btc_spark.pipeline import Warehouse

        self.ctx, self.n_days = ctx, n_days
        self.wh_root = os.path.join(ctx.run_dir, "warehouse")
        self.wh = Warehouse(self.wh_root)
        self.ingested: set[int] = set()

    def inputs(self, h) -> None:
        self.pages = klines_pages(self.ctx.rng(3), self.n_days)
        self.page_bytes = [
            len(json.dumps(p, separators=(",", ":"))) for p in self.pages
        ]
        h.update(json.dumps(self.pages, separators=(",", ":")).encode())

    def day(self, i: int) -> str:
        return f"2024-01-{i + 1:02d}"

    def run(self, i: int):
        from airflow_crypto_btc_spark import pipeline

        self.ingested.add(i)
        src = pipeline.normalize_klines(self.ctx.spark, self.pages[i])
        return pipeline.run_day(self.ctx.spark, self.wh, self.day(i), src)

    def counts(self, i: int) -> tuple[int, int]:
        def rows(path):
            return sum(pq.read_metadata(os.path.join(d, f)).num_rows
                       for d, _, fs in os.walk(path) for f in fs
                       if f.endswith(".parquet"))
        return (rows(self.wh.day_partition(self.day(i))),
                rows(self.wh.daily_metrics))

    def check(self, i: int, res, before=None) -> list[str]:
        bad = [f"{self.day(i)}: DQ {c.check} failed"
               for c in res.checks if not c.passed]
        if len(res.checks) != 5:
            bad.append(f"{self.day(i)}: {len(res.checks)} DQ checks, not 5")
        if before is not None and self.counts(i) != before:
            bad.append(f"{self.day(i)}: re-run changed row counts "
                       f"{before} -> {self.counts(i)}")
        return bad

    def final_check(self) -> list[str]:
        """``daily_metrics`` == one-shot OHLC + indicators over every raw
        row the backfill stored."""
        from pyspark.sql import functions as F

        from airflow_crypto_btc_spark.operators.indicators import (
            with_indicators,
        )
        from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
        from airflow_crypto_btc_spark.pipeline import (
            INDICATOR_COLS, OHLC_COLS, RAW_PRICES_SCHEMA,
        )

        spark = self.ctx.spark
        raw = spark.read.schema(RAW_PRICES_SCHEMA).parquet(
            *[self.wh.day_partition(self.day(i)) for i in sorted(self.ingested)])
        want = with_indicators(
            daily_ohlc(raw, ts_col="ts_utc", price_col="price",
                       key_cols=("asset",)).drop("n_obs"),
            date_col="date", close_col="close", key_cols=("asset",),
        ).select("date", "asset", *OHLC_COLS, *INDICATOR_COLS)
        got = spark.read.parquet(self.wh.daily_metrics).select(
            "date", "asset", *OHLC_COLS, *INDICATOR_COLS)
        problems = _compare("daily_metrics", got.toPandas(), want.toPandas())
        n_raw = raw.agg(F.count("*")).collect()[0][0]
        want_raw = sum(len({r[0] for r in self.pages[i]})
                       for i in self.ingested)
        if n_raw != want_raw:
            problems.append(f"raw_prices holds {n_raw} rows, want {want_raw}")
        return problems


class Rollup:
    """A long-lived streaming OHLC rollup (``rollup_maintenance_sink``)
    over a state table whose log was aged in set-up."""

    BATCH_ROWS = 500
    AGE_VERSIONS = 300
    QUERY = "rollup"

    def __init__(self, ctx: Ctx, n_batches: int):
        self.ctx, self.n_batches = ctx, n_batches
        self.table = os.path.join(ctx.run_dir, "state")
        self.batch_dir = os.path.join(ctx.run_dir, "batches")
        self.folded: set[int] = set()

    def inputs(self, h) -> None:
        """Seeded ``events`` rows over the 30-day window in shuffled order
        (late rows hit old days), cut into fixed-size micro-batches."""
        n = self.BATCH_ROWS * self.n_batches
        ev = gen.events(self.ctx.rng(5), n, max(1, n // 60))
        ev = ev.take(pa.array(self.ctx.rng(6).permutation(n)))
        self.batches = []
        for b in range(self.n_batches):
            path = os.path.join(self._dir(b), "events.parquet")
            os.makedirs(self._dir(b))
            pq.write_table(ev.slice(b * self.BATCH_ROWS, self.BATCH_ROWS),
                           path)
            with open(path, "rb") as fh:
                h.update(fh.read())
            self.batches.append(path)

    def _dir(self, b: int) -> str:
        return os.path.join(self.batch_dir, f"b{b:05d}")

    def batch(self, b: int):
        """Batch ``b``, read as the ``events`` fixture table is."""
        from airflow_crypto_btc_spark.sources.tables import load_table

        return load_table(self.ctx.spark, self._dir(b), "events")

    def fold(self, b: int) -> None:
        with self.ctx.tracer.span("rollup_maintenance_sink", "streaming",
                                  batch=b):
            self.sink(self.batch(b), b)
        self.folded.add(b)

    def maintain(self) -> None:
        from airflow_crypto_btc_spark.sources import snapshot_table as st

        with self.ctx.tracer.span("maintenance", "streaming.maint"):
            st.compact(self.ctx.spark, self.table)
            st.vacuum(self.table)

    def setup(self) -> None:
        from airflow_crypto_btc_spark.streaming.snapshot_sink import (
            rollup_maintenance_sink,
        )

        self.sink = rollup_maintenance_sink(self.table, self.QUERY)
        self.fold(0)  # bootstraps the state table
        self.age()
        self.fold(1)  # first upsert fold: JIT warm-up

    def age(self) -> None:
        """Age the log to ``AGE_VERSIONS`` commits through the public
        commit API: each commit swaps one live part for a byte-identical
        real copy (hard links), the shape of a long-lived maintainer's
        rewrite history — the table's rows never change, but the log and
        the dead parts a vacuum must find grow with every commit."""
        from airflow_crypto_btc_spark.sources import snapshot_table as st

        data = os.path.join(self.table, "data")
        for k in range(self.AGE_VERSIONS - st.current_snapshot(
                self.table).version - 1):
            snap = st.current_snapshot(self.table)
            old = snap.files[k % len(snap.files)]
            new = f"part-aged-{k:05d}"
            shutil.copytree(os.path.join(data, old), os.path.join(data, new),
                            copy_function=os.link)
            st.commit(self.table, add=[new], remove=[old], operation="age",
                      stats={new: snap.stats[old]} if old in snap.stats
                      else None)

    def check_readable(self) -> list[str]:
        from airflow_crypto_btc_spark.sources import snapshot_table as st

        try:
            st.read_snapshot(self.ctx.spark, self.table).count()
        except Exception as exc:  # noqa: BLE001 — reported as a failure
            return [f"read_snapshot after vacuum failed: {exc}"[:300]]
        return []

    def log_versions(self) -> int:
        from airflow_crypto_btc_spark.sources import snapshot_table as st

        return st.current_snapshot(self.table).version + 1

    def rows_committed_since(self, version: int) -> int:
        """Rows the fold's own commits added after ``version`` (the
        per-part row counts the commit log records)."""
        log = os.path.join(self.table, "_log")
        total = 0
        for f in sorted(os.listdir(log)):
            if f.endswith(".json") and int(f.split(".")[0]) > version:
                with open(os.path.join(log, f)) as fh:
                    e = json.load(fh)
                if e.get("operation") in ("append", "upsert"):
                    total += sum(int(e.get("stats", {}).get(a, {}).get(
                        "__nrows", 0)) for a in e.get("add", []))
        return total

    def final_check(self) -> list[str]:
        """State == ``ohlc_state`` over each distinct batch exactly once."""
        from functools import reduce

        from airflow_crypto_btc_spark.operators.incremental import ohlc_state
        from airflow_crypto_btc_spark.sources import snapshot_table as st

        rows = reduce(lambda a, b: a.unionByName(b),
                      [self.batch(b) for b in sorted(self.folded)])
        want = ohlc_state(rows, "ts", "value", ("event_type",)).toPandas()
        got = st.read_snapshot(self.ctx.spark, self.table).toPandas()
        return _compare("ohlc_state", got[list(want.columns)], want)


class BackfillFold:
    """Daily ingest: the DAG's catchup day-run, and one micro-batch of the
    streaming OHLC rollup folded after it, per op.

    Set-up runs day 0 and ages the rollup's log, then saves the warehouse
    and the state table.  A cycle runs the window's days 1..n-1 in order
    — the last also compacts and vacuums the state table — then re-runs
    one of them (a seeded Airflow clear/retry), which re-delivers that
    day's batch id to the sink (exactly-once: it folds nothing).  Each
    cycle after the first starts from the saved state (restored outside
    the timing), so every cycle replays the same days over the same
    history and vacuums the same aged log.  A run stops only at the end
    of a cycle.
    """

    name = "backfill_fold"
    #: days of pages in the window, ``<n>d``; the fixture window holds 30
    default_size = "4d"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        n = int(ctx.size.rstrip("d"))
        if not 3 <= n <= gen.N_DAYS:
            raise ValueError(f"{self.name} size {ctx.size}: "
                             f"3d..{gen.N_DAYS}d")
        self.days = DayRuns(ctx, n)
        # batches 0 and 1 are folded in set-up, batch d + 1 by day d
        self.rollup = Rollup(ctx, n + 1)
        self.batch_rows = Rollup.BATCH_ROWS
        self.saved = os.path.join(ctx.run_dir, "saved")
        #: rows the sink committed in cycles already rolled back
        self._committed = 0

    def inputs(self) -> str:
        import hashlib

        h = hashlib.sha256()
        self.days.inputs(h)
        self.rollup.inputs(h)
        return h.hexdigest()

    def _state_dirs(self) -> list[str]:
        return [self.days.wh_root, self.rollup.table]

    def setup(self) -> None:
        # day 0 creates the warehouse tables and pays the JIT warm-up
        bad = self.days.check(0, self.days.run(0))
        if bad:
            raise RuntimeError(f"set-up day-run failed: {bad}")
        self.rollup.setup()
        self.timed_from_version = self.rollup.log_versions() - 1
        for d in self._state_dirs():
            shutil.copytree(d, os.path.join(self.saved, os.path.basename(d)))

    def restore(self) -> None:
        """Put the warehouse and the state table back as set-up left
        them."""
        self._committed += self.rollup.rows_committed_since(
            self.timed_from_version)
        for d in self._state_dirs():
            shutil.rmtree(d)
            shutil.copytree(os.path.join(self.saved, os.path.basename(d)), d)

    def _day_op(self, d: int, maintain: bool, pre) -> Op:
        def run():
            res = self.days.run(d)
            self.rollup.fold(d + 1)
            if maintain:
                self.rollup.maintain()
            return res

        def check(res):
            bad = self.days.check(d, res)
            return bad + (self.rollup.check_readable() if maintain else [])

        label = self.days.day(d) + ("+maintenance" if maintain else "")
        return Op(label, run, check, boundary=False, pre=pre)

    def ops(self) -> Iterator[Op]:
        window = range(1, self.days.n_days)
        j = int(self.ctx.rng(4).choice(window))
        cycle = 0
        while True:
            for d in window:
                yield self._day_op(
                    d, maintain=d == window[-1],
                    pre=self.restore if cycle and d == window[0] else None)
            before: list = []

            def rerun():
                res = self.days.run(j)
                self.rollup.fold(j + 1)
                return res

            yield Op(
                f"{self.days.day(j)}:rerun", rerun,
                lambda r, b=before: self.days.check(j, r, b[0]),
                rerun=True,
                pre=lambda b=before: b.append(self.days.counts(j)),
            )
            cycle += 1

    def final_check(self) -> list[str]:
        return self.days.final_check() + self.rollup.final_check()

    def stored_bytes_ratio(self) -> float:
        """Warehouse + rollup state bytes on disk per byte ingested
        (klines pages + event batches)."""
        ingested = sum(self.days.page_bytes[i] for i in self.days.ingested)
        ingested += sum(os.path.getsize(self.rollup.batches[b])
                        for b in self.rollup.folded)
        return (du(self.days.wh_root) + du(self.rollup.table)) / ingested

    def log_versions(self) -> int:
        return self.rollup.log_versions()

    def rows_committed(self) -> int:
        """Rows the sink committed during the timed ops."""
        return self._committed + self.rollup.rows_committed_since(
            self.timed_from_version)


WORKLOADS = {w.name: w for w in (CatalogMix, BackfillFold)}
