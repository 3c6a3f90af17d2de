"""The exactly-once fold skeleton every ``foreachBatch`` sink is built
from, plus the three sinks that fold straight into a snapshot table.

Structured Streaming delivers micro-batches at least once; the engine's
snapshot table (sources/snapshot_table.py) has an ACID commit log with
idempotent ``txn_id`` commits and compare-and-swap ``expect_version``
commits.  A sink turns the first into exactly-once table state with the
same steps every time, and each step is written once, here:

- **replay check + CAS anchor** — :func:`fold_sink` reads
  ``current_snapshot`` ONCE; its txn ids say whether batch
  ``<query_name>:<batch_id>`` already landed and its version is the
  ``expect_version`` of the commit, so the state the delta was computed
  from is exactly the state the commit replaces;
- **first-per-id dedup + anti-join** (:func:`first_per`,
  :func:`drop_committed`, :func:`new_rows`) — a deterministic
  representative per id (the caller's ordering expression, so a replay
  picks the same row) minus the ids the table already holds;
- **lost-CAS mapping** (:func:`cas_guard`) — ``CommitConflictError``
  becomes ``ConcurrentMaintenanceError``: another writer folded first,
  retry the batch from a fresh read;
- **source pin** (:class:`SourcePin`) — a frozen model table is checked
  against ``expect_source`` at construction and by commit version on
  every batch, so a rebuild under a running stream stops it;
- **periodic maintenance** (:func:`maintenance_due`,
  :func:`compact_tables`) — every ``every`` batches compact (optionally
  clustered) and vacuum each table that has live files.

**Replay contract.**  A re-delivered batch whose txn id is in the log
— a crash between the sink's commit and the checkpoint advance, or a
re-run against a fresh checkpoint — returns from :func:`fold_sink`
before any Spark job: it commits nothing and runs no maintenance, even
when its batch id is a maintenance batch (pinned by
tests/test_streaming_fold.py::test_fold_sinks_replay_commits_nothing).
Txn ids live in the commit log, which ``vacuum`` never trims (it deletes
data parts and stale temp files only), so a replay of ANY earlier batch
is a no-op, also after a merge or compaction.

Multi-commit sinks (ANN, dedup, novelty, quota, search, semantic,
split, takedown, gram index) keep their own commit order and
time-travel replay branches and use the shared steps only; the steps
never read, append or upsert on a sink's behalf.

Readers concurrently see only whole committed versions — never a torn
micro-batch — because visibility is the atomic log append, not the data
file write.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.incremental import (
    ConcurrentMaintenanceError,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    CommitConflictError,
    Snapshot,
    append,
    compact,
    current_snapshot,
    read_parts,
    upsert,
    vacuum,
)


def first_per(df: DataFrame, key: str, *order: Column) -> DataFrame:
    """One row per ``key``: the first by ``order``.  The order must be a
    pure function of the row, so a replayed batch picks the same
    representative its committed outputs were computed from."""
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )


def drop_committed(
    fresh: DataFrame,
    committed: DataFrame | None,
    id_col: str,
    seen_col: str | None = None,
) -> DataFrame:
    """Insert-only anti-join: ``fresh`` minus the ids ``committed``
    already holds in ``seen_col`` (default ``id_col``) — re-delivery
    from an at-least-once source contributes nothing."""
    if committed is None:
        return fresh
    return fresh.join(
        committed.select(F.col(seen_col or id_col).alias("_seen")),
        fresh[id_col] == F.col("_seen"),
        "left_anti",
    )


def new_rows(
    batch_df: DataFrame,
    id_col: str,
    order: Column,
    committed: DataFrame | None,
    seen_col: str | None = None,
) -> DataFrame:
    """:func:`first_per` id, then :func:`drop_committed`."""
    return drop_committed(
        first_per(batch_df, id_col, order), committed, id_col, seen_col
    )


def snapshot_rows(
    spark: SparkSession, table: str, snap: Snapshot
) -> DataFrame | None:
    """The table's rows at ``snap`` (``None`` before its first commit):
    the state pinned at the fold's CAS anchor, without replaying the
    log again."""
    return read_parts(spark, table, snap.files) if snap.files else None


@contextlib.contextmanager
def cas_guard():
    """Map a lost compare-and-swap to ``ConcurrentMaintenanceError``:
    another writer committed between this fold's read and its commit,
    so the fold left nothing and the batch must be retried from a fresh
    read."""
    try:
        yield
    except CommitConflictError as exc:
        raise ConcurrentMaintenanceError(str(exc)) from exc


class SourcePin:
    """A model table a sink reads for its whole lifetime.  Construction
    refuses a table built from another corpus generation than
    ``expect_source``; :meth:`check` refuses a table that is no longer
    the SAME COMMIT — by version, not meta, so a rebuild with identical
    meta stops the stream instead of silently mixing generations."""

    def __init__(
        self, table: str, what: str, expect_source: str | None = None
    ):
        self.table, self.what = table, what
        self.snap = current_snapshot(table)
        built = self.snap.meta.get("source_version")
        if expect_source is not None and built != expect_source:
            raise ValueError(
                f"stale {what}: built from {built!r}, sink expects "
                f"{expect_source!r} — rebuild before streaming"
            )

    def check(self) -> None:
        if current_snapshot(self.table).version != self.snap.version:
            raise ValueError(
                f"{self.what} changed under a running stream — restart "
                "the sink against the new generation"
            )


def maintenance_due(every: int | None, batch_id: int) -> bool:
    """Whether batch ``batch_id`` is a maintenance batch (every
    ``every``-th; never when ``every`` is unset)."""
    return bool(every) and (batch_id + 1) % every == 0


def compact_tables(
    spark: SparkSession,
    tables: Sequence[str],
    target_parts: int,
    cluster_by: dict[str, list[str]] | None = None,
) -> None:
    """Compact each table with live files into ``target_parts`` parts,
    then vacuum it.  ``cluster_by[table]`` Z-orders that table's rewrite
    when the table has all those columns (an older generation without
    them is compacted unclustered — nulls cannot z-order).  A table
    with no live files yet (e.g. nothing emitted so far) is skipped."""
    for table in tables:
        snap = current_snapshot(table)
        if not snap.files:
            continue
        cluster = (cluster_by or {}).get(table)
        if cluster and not set(cluster) <= set(
            read_parts(spark, table, snap.files).columns
        ):
            cluster = None
        compact(spark, table, target_parts=target_parts, cluster_by=cluster)
        vacuum(table)


def fold_sink(
    table: str,
    query_name: str,
    delta: Callable[[DataFrame, Snapshot], DataFrame],
    *,
    cas: bool = True,
    meta: dict | None = None,
    commit: Callable[[SparkSession, DataFrame, str, Snapshot], int]
    | None = None,
    every: int | None = None,
    maintain: Callable[[SparkSession], object] | None = None,
):
    """``foreachBatch`` callback for a sink that commits once per batch.

    Per batch: read ``table``'s snapshot once; return if the batch's
    txn id is already in it (no Spark job, no commit, no maintenance);
    otherwise ``delta(batch_df, snap)`` computes the rows to commit and
    they land under txn id ``<query_name>:<batch_id>`` — by default one
    append, CAS-anchored on ``snap.version`` (``cas=False`` for
    commutative folds that need no anchor) with a lost CAS raised as
    ``ConcurrentMaintenanceError``; ``commit(spark, rows, txn, snap)``
    replaces that append.  Then, on every ``every``-th batch,
    ``maintain(spark)`` — skipped when the commit found its txn already
    landed by a racing retry."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        snap = current_snapshot(table)
        txn = f"{query_name}:{batch_id}"
        if txn in snap.txn_ids:
            return
        spark = batch_df.sparkSession
        rows = delta(batch_df, snap)
        if commit is not None:
            version = commit(spark, rows, txn, snap)
        else:
            with cas_guard():
                version = append(
                    spark, rows, table, txn_id=txn, meta=meta,
                    expect_version=snap.version if cas else None,
                )
        if version != -1 and maintenance_due(every, batch_id):
            maintain(spark)

    return _fold


def snapshot_append_sink(table: str, query_name: str):
    """``foreachBatch`` callback: idempotent transactional append of each
    micro-batch into ``table``."""
    return fold_sink(table, query_name, lambda batch_df, snap: batch_df,
                     cas=False)


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
    in by ONE narrowed ``upsert`` with ``combine=merge_ohlc_states``,
    CAS-anchored on the snapshot the skeleton read: the upsert reads the
    stored rows of the batch's keys from the files whose key ranges can
    hold them and rewrites only those files; the first batch bootstraps
    the table with an append.  Exactly-once matters more here than for
    the append sink: re-appending duplicate ROWS is visible and
    repairable, but re-MERGING a batch silently corrupts ``n_obs`` — the
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

    def _commit(spark, delta_state, txn, snap):
        if not snap.files:
            return append(spark, delta_state, state_table, txn_id=txn)
        # a conflict propagates as CommitConflictError and Structured
        # Streaming retries the batch from a fresh read: a rewrite that
        # retried at the next version with a stale remove-set would
        # duplicate rows against a racing OPTIMIZE
        return upsert(
            spark, delta_state, state_table, key_cols=keys, txn_id=txn,
            expect_version=snap.version, combine=_combine,
        )

    return fold_sink(
        state_table, query_name,
        lambda batch_df, snap: ohlc_state(
            batch_df, ts_col, price_col, key_cols
        ),
        commit=_commit,
    )


def cdc_apply_sink(
    table: str,
    query_name: str,
    key_cols: Sequence[str],
    sequence_col: str,
):
    """``foreachBatch`` callback folding a CDC changelog stream (rows
    tagged ``_change_type`` insert/update/delete with a
    ``sequence_col`` order) into a keyed snapshot table —
    ``snapshot_table.apply_changes`` per micro-batch, so batches compose
    to the changelog's latest-wins end state.  The fold's rewrite
    narrows to the batch's key spread (the upsert machinery), so a
    constant-rate CDC feed maintains an arbitrarily large table in
    constant per-batch work."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    def _commit(spark, batch_df, txn, snap):
        if batch_df.limit(1).count() == 0:
            return -1
        return apply_changes(
            spark, batch_df, table, key_cols=list(key_cols),
            sequence_col=sequence_col, txn_id=txn,
        )

    return fold_sink(
        table, query_name, lambda batch_df, snap: batch_df, commit=_commit
    )
