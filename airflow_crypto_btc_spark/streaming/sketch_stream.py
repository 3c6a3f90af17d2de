"""Streaming sketch maintenance: fold each micro-batch into a persisted
sketch table by APPENDING the batch's partial sketch.  Count-Min cells
and quantile registers add under union, HLL registers take the max and
KMV minima take the k smallest, so the merged sketch is a bounded fold
over everything committed and a batch contributes exactly once through
the txn-id skeleton (``snapshot_sink.fold_sink``; no CAS anchor — the
appends commute).

This is the sketch's scale story: the hot path never reads the
existing sketch (no read-modify-write, no upsert contention — one
bounded append of ≤ depth × width skinny rows per batch), and serving
(``operators/sketch.cms_from_table``) folds the history with one
bounded aggregation.  ``merge_every`` bounds the history: every N
batches the history is re-aggregated and committed as one overwrite,
then vacuumed.  The merge preserves every estimate bit-for-bit (sum of
sums).  Txn ids live in the commit log and ``vacuum`` deletes only
data parts and stale temp files, never a log entry, so a replay of a
batch older than a merge is still a no-op through its txn id.  The
merge's overwrite is not CAS-anchored: run it quiesced, the same
maintenance doctrine as clustered compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.sketch import cms_build
from airflow_crypto_btc_spark.sources.snapshot_table import (
    overwrite,
    read_snapshot,
    vacuum,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import fold_sink


def _overwrite_merged(
    spark: SparkSession, table: str, merged: DataFrame
) -> None:
    """Replace the sketch history with its merge, then drop the old parts."""
    overwrite(spark, merged, table)
    vacuum(table)


def cms_merge(spark: SparkSession, sketch_table: str) -> None:
    """Collapse the per-batch history to one ≤ depth × width row set
    (one overwrite commit).  Cell-wise sum of sums — no estimate
    changes.  Run from the maintenance path (or ``merge_every``), with
    no other writer on the table."""
    merged = (
        read_snapshot(spark, sketch_table)
        .groupBy("d", "w")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    _overwrite_merged(spark, sketch_table, merged)


def cms_sink(
    sketch_table: str,
    query_name: str,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
    merge_every: int | None = None,
):
    """``foreachBatch`` callback folding each batch's partial sketch
    into the table."""
    return fold_sink(
        sketch_table, query_name,
        lambda batch_df, snap: cms_build(
            batch_df, depth=depth, width=width, text_col=text_col
        ),
        cas=False, every=merge_every,
        maintain=lambda spark: cms_merge(spark, sketch_table),
    )


def hll_sink(
    registers_table: str,
    query_name: str,
    m: int = 16,
    text_col: str = "text",
    merge_every: int | None = None,
):
    """``foreachBatch`` callback folding each batch's partial HLL
    registers into the table — same no-read-modify-write shape as
    ``cms_sink``; the merge is per-bucket MAX instead of sum, which
    additionally makes RE-DELIVERED DATA harmless (max is idempotent:
    replaying rows can never inflate a register, only the txn-id guard
    is needed for commit dedup)."""
    from airflow_crypto_btc_spark.operators.sketch import (
        hll_from_table,
        hll_registers,
    )

    return fold_sink(
        registers_table, query_name,
        lambda batch_df, snap: hll_registers(
            batch_df, m=m, text_col=text_col
        ),
        cas=False, every=merge_every,
        maintain=lambda spark: _overwrite_merged(
            spark, registers_table, hll_from_table(spark, registers_table)
        ),
    )


def qhist_sink(
    registers_table: str,
    query_name: str,
    value_col: str = "value",
    merge_every: int | None = None,
):
    """``foreachBatch`` callback folding each batch's partial quantile
    registers into the table — the CM-sketch shape exactly (counts are
    additive under union, the grid is fixed so batch registers always
    align cell-for-cell): one bounded append of ≤n_buckets skinny rows
    per batch, no read-modify-write on the hot path; serving folds
    history with ``sketch.qhist_from_table``."""
    from airflow_crypto_btc_spark.operators.sketch import (
        qhist_from_table,
        qhist_registers,
    )

    return fold_sink(
        registers_table, query_name,
        lambda batch_df, snap: qhist_registers(
            batch_df, value_col=value_col
        ),
        cas=False, every=merge_every,
        maintain=lambda spark: _overwrite_merged(
            spark, registers_table,
            qhist_from_table(spark, registers_table),
        ),
    )


def kmv_merge(
    spark: SparkSession,
    sketch_table: str,
    group_cols: list[str],
    k: int = 32,
) -> None:
    """Collapse the per-batch KMV history to the merged ≤ k rows per
    group (one overwrite commit).  The theta union law (k smallest of
    the unioned sketches == sketch of the union) means no estimate
    changes — same maintenance doctrine as :func:`cms_merge`."""
    from airflow_crypto_btc_spark.operators.sketch import kmv_from_table

    _overwrite_merged(
        spark, sketch_table,
        kmv_from_table(spark, sketch_table, group_cols, k=k),
    )


def kmv_sink(
    sketch_table: str,
    query_name: str,
    key_expr: str,
    group_cols: list[str],
    k: int = 32,
    merge_every: int | None = None,
):
    """``foreachBatch`` callback folding each batch's partial KMV
    sketch into the table — the same no-read-modify-write shape as
    :func:`cms_sink`: the hot path appends the batch's own ≤ k rows
    per group, and serving (``operators/sketch.kmv_from_table``) takes
    the k smallest of the unioned history.  KMV is the one register
    sketch here that is NOT decrementable even in principle (an
    evicted key may have displaced other minima that are gone for
    good), so takedown policy lists ``kmv_minima`` as
    rebuild_required (operators/takedown.NON_DECREMENTABLE)."""
    from airflow_crypto_btc_spark.operators.sketch import kmv_sketch

    return fold_sink(
        sketch_table, query_name,
        lambda batch_df, snap: kmv_sketch(
            batch_df, key_expr, group_cols, k=k
        ),
        cas=False, every=merge_every,
        maintain=lambda spark: kmv_merge(spark, sketch_table, group_cols, k=k),
    )
