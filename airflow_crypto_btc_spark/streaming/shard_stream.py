"""Streaming consistent output sharding: assign arriving documents to
their training shard against the PERSISTED shard map
(``operators/curation.build_shard_map``) and append each assignment
exactly once.

This is the ingest-time shape the persisted map exists for: the
serpentine balance plan is computed ONCE on a reference corpus census
and frozen — re-planning per micro-batch would move already-assigned
documents between shards as the observed token distribution drifts
(a shard assignment, like a quality score, must not change because
unrelated documents arrived).  The map is loaded once at sink
construction, version-asserted every batch (``snapshot_sink.SourcePin``):
a rebuild under a running stream stops the sink rather than silently
splitting the corpus across two shard plans.

Per batch (the ``snapshot_sink.fold_sink`` skeleton): already-assigned
ids anti-join away (re-delivery), survivors assign via one broadcast
join on the bounded map — no census, no exchange beyond the batch's
own rows — and land in one exactly-once append.  The assignment lands
WITH its evidence (``n_tokens``, ``micro_shard``), so a balance audit
over the decisions table needs no re-tokenization.

The reference has no streaming surface; this extends the curation
family (SURVEY §2 extension) to the Structured-Streaming execution
model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import read_snapshot
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    SourcePin,
    compact_tables,
    fold_sink,
    new_rows,
    snapshot_rows,
)


def shard_assignments_sink(
    map_table: str,
    assignments_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving documents' frozen-map
    shard assignments — ``(id, n_tokens, micro_shard, shard)`` — with
    exactly-once semantics.  ``expect_source`` pins the map to the
    census generation it was planned on (checked once at construction);
    every batch then asserts the map table is still the SAME COMMIT by
    version.  Because the persisted map is complete over every
    micro-shard, an arrival can never miss it — there is no fallback
    path whose behavior could diverge from the batch operator."""
    from airflow_crypto_btc_spark.functions.hashing import tokens_expr

    shard_map = SourcePin(map_table, "shard map", expect_source)
    meta = shard_map.snap.meta
    m = int(meta["shards"]) * int(meta["oversample"])

    def _delta(batch_df, snap):
        shard_map.check()
        spark = batch_df.sparkSession
        fresh = new_rows(
            batch_df, id_col, F.md5(F.col(text_col)),
            snapshot_rows(spark, assignments_table, snap),
        )
        mapping = read_snapshot(spark, map_table).select(
            "micro_shard", "shard"
        )
        return (
            fresh.select(
                F.col(id_col),
                F.expr(
                    f"cast(conv(substr(md5(cast({id_col} as string))"
                    f",1,8),16,10) as bigint) % {m}"
                ).alias("micro_shard"),
                F.size(tokens_expr(text_col)).cast("long").alias(
                    "n_tokens"
                ),
            )
            .join(F.broadcast(mapping), "micro_shard")
            .select(id_col, "n_tokens", "micro_shard", "shard")
        )

    return fold_sink(
        assignments_table, query_name, _delta, every=compact_every,
        maintain=lambda spark: compact_tables(
            spark, [assignments_table], compact_target_parts
        ),
    )
