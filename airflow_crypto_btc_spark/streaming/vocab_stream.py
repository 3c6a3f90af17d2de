"""Streaming frozen-vocab encoding: encode arriving documents against
the PERSISTED vocabulary and append each document's id array exactly
once — the ingest-time shape of tokenizer sharding.

Same doctrine as the other frozen-model sinks (``text_stream``,
``semantic_stream``): the vocab is loaded once at sink construction,
version-asserted every batch — a vocab rebuild under a running encode
stream stops it rather than silently mixing id spaces (id 7 from two
vocab generations is two different tokens; a mixed table would be
silently corrupt training data).

Per batch (the ``snapshot_sink.fold_sink`` skeleton): already-encoded
ids anti-join away (re-delivery; append-ignore), one broadcast-map
encode projection (document rows never shuffle), one exactly-once
append.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.vocab import encode_from_vocab
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    SourcePin,
    compact_tables,
    fold_sink,
    new_rows,
    snapshot_rows,
)


def encoded_sink(
    vocab_table: str,
    encoded_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending frozen-vocab encodings."""
    vocab = SourcePin(vocab_table, "vocab", expect_source)

    def _delta(batch_df, snap):
        vocab.check()
        spark = batch_df.sparkSession
        fresh = new_rows(
            batch_df, id_col, F.md5(F.col(text_col)),
            snapshot_rows(spark, encoded_table, snap),
        )
        return encode_from_vocab(
            spark, fresh, vocab_table, id_col, text_col
        )

    return fold_sink(
        encoded_table, query_name, _delta, every=compact_every,
        maintain=lambda spark: compact_tables(
            spark, [encoded_table], compact_target_parts
        ),
    )
