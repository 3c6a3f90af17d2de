"""The replay contract of the single-commit ``foreachBatch`` sinks built
on ``streaming/snapshot_sink.fold_sink``: a re-delivered batch id whose
commit already landed launches no Spark job and commits nothing — not
even the maintenance its batch id schedules (every sink below runs with
a maintenance cadence of 2, so batch 1 is a maintenance batch)."""

from __future__ import annotations

import datetime as dt

import pytest

from airflow_crypto_btc_spark.sources.snapshot_table import current_snapshot

EVERY = 2


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc {i} the cat sat on mat {i % 3}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _snapshot_append(spark, root):
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        snapshot_append_sink,
    )

    return snapshot_append_sink(root + "/t", "q"), root + "/t", _docs


def _rollup(spark, root):
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        rollup_maintenance_sink,
    )

    def batch(spark, lo, hi):
        return spark.createDataFrame(
            [
                ("click", dt.datetime(2024, 1, 1 + i % 3, i % 24), float(i))
                for i in range(lo, hi)
            ],
            "event_type string, ts timestamp, value double",
        )

    return rollup_maintenance_sink(root + "/t", "q"), root + "/t", batch


def _cdc(spark, root):
    from airflow_crypto_btc_spark.sources.snapshot_table import append
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        cdc_apply_sink,
    )

    append(
        spark, spark.range(7).selectExpr("id AS k", "id AS v"), root + "/t"
    )

    def batch(spark, lo, hi):
        return spark.createDataFrame(
            [(i % 7, i, "insert", i) for i in range(lo, hi)],
            "k bigint, v bigint, _change_type string, seq int",
        )

    return cdc_apply_sink(root + "/t", "q", ["k"], "seq"), root + "/t", batch


def _cms(spark, root):
    from airflow_crypto_btc_spark.streaming.sketch_stream import cms_sink

    return cms_sink(root + "/t", "q", merge_every=EVERY), root + "/t", _docs


def _card(spark, root):
    from airflow_crypto_btc_spark.streaming.card_stream import card_facts_sink

    sink = card_facts_sink(root + "/t", "q", compact_every=EVERY)
    return sink, root + "/t", _docs


def _encoded(spark, root):
    from airflow_crypto_btc_spark.operators.vocab import build_vocab_table
    from airflow_crypto_btc_spark.streaming.vocab_stream import encoded_sink

    vt = root + "/vocab"
    build_vocab_table(
        spark, _docs(spark, 0, 4), vt, size=3, source_version="v1"
    )
    sink = encoded_sink(vt, root + "/t", "q", compact_every=EVERY)
    return sink, root + "/t", _docs


#: one sink per variant of the skeleton — the commit (plain append,
#: upsert fold, CDC apply, CAS append) and the maintenance (none, sketch
#: merge, compaction, compaction under a pinned source); the other
#: single-commit sinks share one of these variants: hll, qhist and kmv
#: with cms, contamination_guard with snapshot_append, quality_scores,
#: bigram_scores, shard_assignments, probe_gate and pq_codes with encoded
SINKS = {
    "snapshot_append": _snapshot_append,
    "rollup_maintenance": _rollup,
    "cdc_apply": _cdc,
    "cms": _cms,
    "card_facts": _card,
    "encoded": _encoded,
}


@pytest.mark.parametrize("name", sorted(SINKS))
def test_fold_sinks_replay_commits_nothing(spark, tmp_path, jobs_in, name):
    sink, table, batch = SINKS[name](spark, str(tmp_path))
    sink(batch(spark, 0, 6), 0)
    sink(batch(spark, 6, 12), 1)  # lands, then maintains
    v = current_snapshot(table).version
    replay = batch(spark, 6, 12)
    assert jobs_in(f"replay-{name}", lambda: sink(replay, 1)) == 0
    assert current_snapshot(table).version == v
