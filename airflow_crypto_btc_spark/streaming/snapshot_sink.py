"""Exactly-once streaming sink into the log-structured snapshot table.

Structured Streaming's file sink is append-only with its own manifest; the
engine's snapshot table (sources/snapshot_table.py) already has an ACID
commit log with idempotent ``txn_id`` commits.  Marrying them via
``foreachBatch`` gives streaming writes the same guarantee Delta's
``txnAppId``/``txnVersion`` pattern provides:

- each micro-batch commits once, keyed ``<query_name>:<batch_id>``;
- a REPLAYED batch (failure between sink write and checkpoint advance, or
  a full re-run against a fresh checkpoint) finds its txn_id already in
  the log and stages nothing — at-least-once delivery from the source
  becomes exactly-once table state (asserted in
  tests/test_streaming_joins.py::test_snapshot_sink_replay_is_exactly_once).

Readers concurrently see only whole committed versions — never a torn
micro-batch — because visibility is the atomic log append, not the data
file write.
"""

from __future__ import annotations

from collections.abc import Sequence

from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    current_snapshot,
    upsert,
)


def snapshot_append_sink(table: str, query_name: str):
    """``foreachBatch`` callback: idempotent transactional append of each
    micro-batch into ``table``."""

    def _write(batch_df, batch_id: int) -> None:
        append(
            batch_df.sparkSession,
            batch_df,
            table,
            txn_id=f"{query_name}:{batch_id}",
        )

    return _write


def rollup_maintenance_sink(
    state_table: str,
    query_name: str,
    ts_col: str = "ts",
    price_col: str = "value",
    key_cols: Sequence[str] = ("event_type",),
):
    """``foreachBatch`` callback folding each micro-batch into an OHLC
    state table (`operators/incremental.py`) — streaming materialized-view
    maintenance with exactly-once state.

    Each batch reduces to mergeable per-(key, day) state and is folded
    in by ONE narrowed ``upsert`` with ``combine=merge_ohlc_states``
    under txn id ``<query_name>:<batch_id>``: the upsert reads the
    stored rows of the batch's keys from the files whose key ranges can
    hold them and rewrites only those files.  A replayed batch
    (sink-write/checkpoint-advance crash window) returns at the upsert's
    txn check before any Spark job.  This matters more here than for the
    append sink: re-appending duplicate ROWS is visible and repairable,
    but re-MERGING a batch silently corrupts ``n_obs`` — the
    non-idempotent-merge hazard.  Unlike the watermarked windowed-agg
    path, state lives in the table, not executor state stores, so late
    rows need no watermark policy: they merge into their day whenever
    they arrive.
    """
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
    )

    keys = [*key_cols, "date"]

    def _combine(old, delta):
        return merge_ohlc_states(old, delta, key_cols=key_cols)

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta_state = ohlc_state(batch_df, ts_col, price_col, key_cols)
        txn = f"{query_name}:{batch_id}"
        snap = current_snapshot(state_table)
        if not snap.files:  # first batch bootstraps the state table
            append(spark, delta_state, state_table, txn_id=txn)
            return
        # CAS-anchored on the version THIS fold read: a rewrite commit
        # silently retrying at the next version with a stale remove-set
        # would duplicate rows against a racing OPTIMIZE; a conflict
        # instead propagates and Structured Streaming retries the batch
        # from a fresh read
        upsert(
            spark, delta_state, state_table, key_cols=keys, txn_id=txn,
            expect_version=snap.version, combine=_combine,
        )

    return _fold


def cdc_apply_sink(
    table: str,
    query_name: str,
    key_cols: Sequence[str],
    sequence_col: str,
):
    """``foreachBatch`` callback folding a CDC changelog stream (rows
    tagged ``_change_type`` insert/update/delete with a
    ``sequence_col`` order) into a keyed snapshot table —
    ``snapshot_table.apply_changes`` per micro-batch under the
    engine-wide ``{query_name}:{batch_id}`` txn discipline, so a
    replayed batch folds nothing and batches compose to the changelog's
    latest-wins end state.  The fold's rewrite narrows to the batch's
    key spread (the upsert machinery), so a constant-rate CDC feed
    maintains an arbitrarily large table in constant per-batch work."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    def _fold(batch_df, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        apply_changes(
            batch_df.sparkSession,
            batch_df,
            table,
            key_cols=list(key_cols),
            sequence_col=sequence_col,
            txn_id=f"{query_name}:{batch_id}",
        )

    return _fold
