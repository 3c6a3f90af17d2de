"""Incremental materialized-rollup maintenance — the don't-recompute-history
pattern for append-mostly tables at 100 TB.

A daily OHLC rollup over an event stream does not need to re-aggregate all
history when a new day of data lands: OHLC becomes an associative,
commutative merge once open/close carry their defining timestamps.  We
maintain a STATE table keyed by ``(key, date)`` holding
``(open_ts, open, high, low, close_ts, close, n_obs)`` and fold each new
batch in::

    new_state = merge(old_state, partial_state(delta_rows))

so an update costs O(|delta| + |touched groups|), never O(|history|).
This is the partial-aggregate / materialized-view-maintenance design —
the same algebra Spark's hash aggregation uses for map-side partials
across partitions, applied across *batches* instead.

Reference parity: the reference recomputes the full daily frame on every
run and upserts it by date (``/root/reference/dags/dag_btc_daily.py:163-233``,
``:219-230``) — fine for one asset, O(history) per day at our scale.  The
maintenance step here reads ONLY the files appended since the last run
(snapshot commit-log fast path, `sources/snapshot_table.snapshot_changes`)
plus the state rows for touched groups.

Scale notes: ``partial_state(delta)`` shuffles |delta| rows on the group
key (map-side combined); the state semi-join touches only groups present
in the delta, and with the state table partitioned by date those reads
prune to the delta's days.  Nothing scans history.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATE_COLS = ("open_ts", "open", "high", "low", "close_ts", "close", "n_obs")


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintenance run advanced the state table's high-water mark
    while this one was reading — the single-writer contract was violated.
    The run aborted before committing; retrying is safe."""


def ohlc_state(
    df: DataFrame,
    ts_col: str = "ts",
    price_col: str = "value",
    key_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Partial-aggregate state: one row per (key, day) carrying exactly what
    a later merge needs — the OHLC values plus the timestamps that define
    open/close (without them, merging two batches' opens is ambiguous)."""
    # min_by/max_by on struct(ts, price) — not bare ts — so rows that TIE on
    # the boundary timestamp resolve deterministically (lowest price wins at
    # open, highest at close).  Bare-ts ordering would make the pick depend
    # on partitioning, breaking merge(state(x), state(y)) == state(x ∪ y)
    # on tied data.
    return (
        df.groupBy(*key_cols, F.to_date(F.col(ts_col)).alias("date"))
        .agg(
            F.min(ts_col).alias("open_ts"),
            F.min(F.struct(F.col(ts_col), F.col(price_col))).getField(
                price_col
            ).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max(ts_col).alias("close_ts"),
            F.max(F.struct(F.col(ts_col), F.col(price_col))).getField(
                price_col
            ).alias("close"),
            F.count(price_col).alias("n_obs"),
        )
    )


def merge_ohlc_states(
    *states: DataFrame, key_cols: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Associative merge of partial states: the same groupBy shape, with
    open/close resolved by the carried timestamps.  ``merge(a, b)`` ==
    ``merge(b, a)`` and ``merge(state(x), state(y)) == state(x ∪ y)`` —
    pinned by tests/test_incremental.py."""
    unioned = reduce(DataFrame.unionByName, states)
    # Same struct tie-break as ohlc_state: two partial states sharing the
    # boundary timestamp resolve to the min (open) / max (close) price, so
    # the merge equals a full recompute even on tied-timestamp data.
    return (
        unioned.groupBy(*key_cols, "date")
        .agg(
            F.min("open_ts").alias("open_ts"),
            F.min(F.struct("open_ts", "open")).getField("open").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max("close_ts").alias("close_ts"),
            F.max(F.struct("close_ts", "close")).getField("close").alias(
                "close"
            ),
            F.sum("n_obs").alias("n_obs"),
        )
    )


def state_to_ohlc(
    state: DataFrame, key_cols: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Serve the rollup: project away the merge-bookkeeping timestamps so
    the output schema matches `operators/ohlc.daily_ohlc` exactly."""
    return state.select(
        *key_cols, "date", "open", "high", "low", "close", "n_obs"
    )


_TXN_PREFIX = "ohlc_rollup_base_v:"


def rollup_high_water_mark(state_table: str) -> int:
    """Last base-table version folded into ``state_table``, recorded as a
    transaction id in the state table's own commit log — so the offset
    advances atomically WITH the state commit (the Delta-sink txn-version
    pattern).  -1 = nothing consumed yet."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
    )

    marks = [
        int(t[len(_TXN_PREFIX):])
        for t in current_snapshot(state_table).txn_ids
        if t.startswith(_TXN_PREFIX)
    ]
    return max(marks, default=-1)


def ndv_state(
    df: DataFrame,
    value_col: str = "user_id",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_type",),
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count state: one binary HLL sketch per (key, day)
    (``hll_sketch_agg`` — Datasketches HllSketch, JVM-side).  Unlike a raw
    ``count_distinct``, the sketch is MERGEABLE: registers are per-bucket
    maxima, so unioning batch sketches is order-independent and a day's
    estimate never requires revisiting the day's raw rows."""
    return (
        df.groupBy(*key_cols, F.to_date(F.col(ts_col)).alias("date"))
        .agg(
            F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
        )
    )


def merge_ndv_states(
    *states: DataFrame, key_cols: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Associative merge of sketch states — ``hll_union_agg`` over the
    union.  merge(state(x), state(y)) estimates exactly what state(x ∪ y)
    estimates (register-maxima are order/partitioning independent; pinned
    by tests/test_incremental.py)."""
    unioned = reduce(DataFrame.unionByName, states)
    return (
        unioned.groupBy(*key_cols, "date")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


def state_to_ndv(
    state: DataFrame, key_cols: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Serve the rollup: per-(key, day) approximate distinct count."""
    return state.select(
        *key_cols,
        "date",
        F.hll_sketch_estimate("sketch").alias("ndv"),
    )


def maintain_ohlc_rollup(
    spark: SparkSession,
    base_table: str,
    state_table: str,
    ts_col: str = "ts",
    price_col: str = "value",
    key_cols: Sequence[str] = ("event_type",),
) -> int:
    """One maintenance step over snapshot tables: fold every base-table row
    appended since the state table's own high-water mark into the state.

    Reads ONLY the appended files (commit-log fast path — no history scan)
    and folds the delta's partial state into the stored rows of the
    (key, date) groups it touches by ONE narrowed ``upsert`` with
    ``combine=merge_ohlc_states``: one state snapshot read, one key-range
    check and one read of the state files that can hold those groups.
    Returns the base-table version the state now reflects.

    Exactly-once under crash/retry: the consumed base version travels as
    the txn id of the state commit itself, so there is no window where the
    state is updated but the offset is not.  A re-run after such a crash
    sees the mark already recorded and performs (and double-counts)
    nothing; merging the same delta twice would corrupt ``n_obs``, which
    is why offset-in-a-side-file designs are wrong here.

    The delta read is pinned to ``to_version=head`` — the same version the
    txn id records — so an append racing in between the head read and the
    change read is NOT folded early (it belongs to the next run's span).

    Concurrency contract: racing maintenance runs are safe — the state
    commit is a COMPARE-AND-SWAP pinned to the state-table version this
    run READ (``expect_version``, arbitrated by the commit log's
    put-if-absent), so two runs that observed different base heads can
    never both fold: the loser's commit raises and surfaces as
    ``ConcurrentMaintenanceError``, to be retried from the read.  The
    early high-water-mark re-check remains as a cheap fast-fail; the
    CAS, not the check, is the correctness guarantee (round-7's
    documented check-to-commit TOCTOU window is thereby closed).
    """
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        CommitConflictError,
        append,
        current_snapshot,
        snapshot_changes,
        upsert,
    )

    # the CAS anchor: the state version THIS run's read is based on
    # (-1 for an absent table — the bootstrap commit is then v0)
    state_snap = current_snapshot(state_table)
    state_v = state_snap.version
    consumed = rollup_high_water_mark(state_table)
    head = current_snapshot(base_table).version
    if head <= consumed:
        return consumed
    # pin the read to `head`: the folded span must match the recorded mark
    # exactly, or an append landing mid-run is double-counted next run
    delta = snapshot_changes(
        spark, base_table, consumed, to_version=head
    ).drop("_change_type")
    delta_state = ohlc_state(delta, ts_col, price_col, key_cols)
    keys = [*key_cols, "date"]
    txn = f"{_TXN_PREFIX}{head}"

    def _guard() -> None:
        now = rollup_high_water_mark(state_table)
        if now != consumed:
            raise ConcurrentMaintenanceError(
                f"high-water mark moved {consumed} -> {now} during "
                f"maintenance of {state_table}; aborting (single-writer "
                "contract violated) — retry the run"
            )

    if not state_snap.files:  # state table absent/empty — bootstrap run
        _guard()
        try:
            append(
                spark, delta_state, state_table, txn_id=txn,
                expect_version=state_v,
            )
        except CommitConflictError as exc:
            raise ConcurrentMaintenanceError(str(exc)) from exc
        return head
    _guard()  # cheap fast-fail; the CAS below is the guarantee
    try:
        # one narrowed fold: only groups the delta touches are read and
        # merged, from the files whose key ranges can hold them, so fold
        # work is bounded by the delta's key spread, never the
        # accumulated state size
        upsert(
            spark, delta_state, state_table,
            key_cols=keys, txn_id=txn, expect_version=state_v,
            combine=lambda old, new: merge_ohlc_states(
                old, new, key_cols=key_cols
            ),
        )
    except CommitConflictError as exc:
        raise ConcurrentMaintenanceError(str(exc)) from exc
    return head
