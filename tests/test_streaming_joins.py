"""Stream-stream range join ≡ batch twin, and streaming dedup drops
cross-batch duplicates (first writer wins)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.tables import load_table
from airflow_crypto_btc_spark.streaming.joins import (
    range_join_attribution,
    streaming_dedup_within_watermark,
    streaming_range_join_attribution,
)
from airflow_crypto_btc_spark.streaming.ohlc_stream import (
    EVENT_STREAM_SCHEMA,
)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["user_id", "cause_id", "effect_id"]).reset_index(
        drop=True
    )


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Two chronological slices → ≥2 micro-batches: pairs whose click and
    purchase land in DIFFERENT batches must still join (buffered join
    state), so the drained stream equals the batch twin."""
    ev = load_table(spark, sf_dir, "events")
    landing = str(tmp_path / "landing")
    for lo, hi in (("2024-01-01", "2024-01-16"), ("2024-01-16", "2024-02-15")):
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_range_join_attribution(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _canon(spark.read.parquet(sink).toPandas())
    want = _canon(range_join_attribution(ev).toPandas())
    pd.testing.assert_frame_equal(got, want[got.columns.tolist()])
    assert len(got) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """The same event_id landed in two different micro-batches (an
    at-least-once source redelivery) must survive exactly once."""
    rows = [
        (1, "2024-01-01 10:00:00", 5, "click", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 5, "click", 2.0, "{}"),
    ]
    dup = [(1, "2024-01-01 10:00:00", 5, "click", 1.0, "{}")]
    landing = str(tmp_path / "landing")
    for batch in (rows, dup):
        spark.createDataFrame(
            [
                (i, pd.Timestamp(t).to_pydatetime(), u, e, v, p)
                for i, t, u, e, v, p in batch
            ],
            EVENT_STREAM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_dedup_within_watermark(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(sink).toPandas()
    assert sorted(got["event_id"].tolist()) == [1, 2]


def test_snapshot_sink_replay_is_exactly_once(spark, tmp_path):
    """Drain a 2-file stream into the snapshot table, then re-run the SAME
    data with a FRESH checkpoint (full replay: batch ids 0..1 recur).  The
    replayed batches' txn_ids are already in the commit log, so the table
    must not grow — at-least-once delivery, exactly-once state."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_snapshot,
    )
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        snapshot_append_sink,
    )

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "snap_table")
    for lo in (0, 100):
        spark.range(lo, lo + 50).coalesce(1).write.mode("append").parquet(
            landing
        )

    def drain(ckpt):
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(
                snapshot_append_sink(table, "ids_stream")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(str(tmp_path / "ckpt1"))
    first = sorted(
        read_snapshot(spark, table).toPandas()["id"].tolist()
    )
    assert len(first) == 100

    drain(str(tmp_path / "ckpt2"))  # full replay, fresh checkpoint
    second = sorted(
        read_snapshot(spark, table).toPandas()["id"].tolist()
    )
    assert second == first  # no duplicate commits


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: drained enrichment equals the batch
    join, including rows whose micro-batch differs."""
    from airflow_crypto_btc_spark.streaming.joins import (
        streaming_enrich_with_dim,
    )

    ev = load_table(spark, sf_dir, "events")
    # static dim: per-user segment derived once, written as a table
    dim = (
        ev.groupBy("user_id")
        .count()
        .select(
            "user_id",
            (F.col("count") % 3).cast("int").alias("segment"),
        )
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    static_dim = spark.read.parquet(dim_path)

    landing = str(tmp_path / "landing")
    for lo, hi in (("2024-01-01", "2024-01-16"), ("2024-01-16", "2024-02-15")):
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_enrich_with_dim(stream, static_dim)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = (
        spark.read.parquet(sink)
        .groupBy("segment")
        .count()
        .toPandas()
        .set_index("segment")["count"]
        .to_dict()
    )
    want = (
        ev.join(static_dim, "user_id")
        .groupBy("segment")
        .count()
        .toPandas()
        .set_index("segment")["count"]
        .to_dict()
    )
    assert got == want and sum(got.values()) == ev.count()


def test_left_outer_stream_join_emits_unmatched_after_watermark(
    spark, sf_dir, tmp_path
):
    """Clicks with no purchase in their window must appear with NULL
    effect columns once the watermark passes — and the drained stream
    must equal the batch left join."""
    import pandas as pd

    from airflow_crypto_btc_spark.streaming.joins import (
        streaming_left_outer_attribution,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-05").cast("timestamp")
    )
    landing = str(tmp_path / "landing")
    ev.coalesce(1).write.mode("append").parquet(landing)
    # watermark-flush sentinels far in the future for BOTH join inputs:
    # the global watermark is the MIN across watermarked sides, so a
    # click-only sentinel would leave the purchase-side watermark (and
    # therefore outer-null finalization) stuck at the last real purchase
    spark.createDataFrame(
        [
            (-1, pd.Timestamp("2024-03-01").to_pydatetime(), -1, "click",
             0.0, "{}"),
            (-2, pd.Timestamp("2024-03-01").to_pydatetime(), -1,
             "purchase", 0.0, "{}"),
        ],
        EVENT_STREAM_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = str(tmp_path / "sink")
    # two availableNow drains from one checkpoint: outer-null emission
    # needs a batch AFTER the watermark has passed cause_ts + window, and
    # the final rows' watermark only advances at the end of the last
    # data batch — the restart runs the flushing no-data batch.
    for _ in range(2):
        q = (
            streaming_left_outer_attribution(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = (
        spark.read.parquet(sink)
        .filter(F.col("user_id") >= 0)
        .toPandas()
        .sort_values(["user_id", "cause_id", "effect_id"])
        .reset_index(drop=True)
    )
    # batch twin
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id"), F.col("event_id").alias("cause_id"),
        F.col("ts").alias("cause_ts"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_uid"),
        F.col("event_id").alias("effect_id"),
        F.col("ts").alias("effect_ts"))
    want = (
        c.join(
            p,
            (c["user_id"] == p["p_uid"])
            & (p["effect_ts"] >= c["cause_ts"])
            & (p["effect_ts"] <= c["cause_ts"] + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .select("user_id", "cause_id", "cause_ts", "effect_id", "effect_ts")
        .toPandas()
        .sort_values(["user_id", "cause_id", "effect_id"])
        .reset_index(drop=True)
    )
    assert got["effect_id"].isna().any()  # unmatched clicks DID emit
    pd.testing.assert_frame_equal(got, want[got.columns.tolist()])


def test_rollup_maintenance_sink_streaming_fold(spark, tmp_path):
    """Stream a 3-file event landing zone (one micro-batch per file) into
    an OHLC state table via the maintenance sink: the served rollup must
    equal daily_ohlc over everything, a late row must merge into its day
    across batches, and a full replay with a fresh checkpoint (batch ids
    recur) must fold nothing — re-merging would double-count n_obs."""
    import datetime as dt

    from airflow_crypto_btc_spark.operators.incremental import (
        state_to_ohlc,
    )
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_snapshot,
    )
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        rollup_maintenance_sink,
    )

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "ohlc_state")
    schema = "event_type string, ts timestamp, value double"
    batches = [
        [("purchase", dt.datetime(2024, 1, 1, 1), 10.0),
         ("purchase", dt.datetime(2024, 1, 1, 2), 12.0)],
        # day 2 opens AND a late day-1 row arrives (new close/high)
        [("purchase", dt.datetime(2024, 1, 2, 1), 20.0),
         ("purchase", dt.datetime(2024, 1, 1, 9), 15.0)],
        [("purchase", dt.datetime(2024, 1, 3, 1), 30.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def drain(ckpt):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(
                rollup_maintenance_sink(state, "ohlc_maint")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(str(tmp_path / "ckpt1"))
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {
        (str(r["date"]), r["open"], r["high"], r["low"], r["close"],
         r["n_obs"])
        for r in daily_ohlc(all_rows).collect()
    }
    got = {
        (str(r["date"]), r["open"], r["high"], r["low"], r["close"],
         r["n_obs"])
        for r in state_to_ohlc(read_snapshot(spark, state)).collect()
    }
    assert got == want
    assert ("2024-01-01", 10.0, 15.0, 10.0, 15.0, 3) in got  # late merge

    drain(str(tmp_path / "ckpt2"))  # full replay, fresh checkpoint
    again = {
        (str(r["date"]), r["open"], r["high"], r["low"], r["close"],
         r["n_obs"])
        for r in state_to_ohlc(read_snapshot(spark, state)).collect()
    }
    assert again == want


#: Spark jobs of one steady-state rollup fold into a one-part state:
#: 1 delta checkpoint, 3 key-range check, 1 schema merge, 7 merge and
#: write, 2 stats of the new part (the per-column check with a separate
#: prior-state read launched 34)
ROLLUP_FOLD_JOB_BUDGET = 14


def test_rollup_fold_spark_job_budget(spark, tmp_path, jobs_in):
    """A steady-state fold into a one-part state launches at most
    ``ROLLUP_FOLD_JOB_BUDGET`` Spark jobs, and a re-delivered batch id
    launches none inside the sink callback — per-job overhead cannot
    creep back into the fold unseen."""
    import datetime as dt

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
    )
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        rollup_maintenance_sink,
    )

    state = str(tmp_path / "ohlc_state")
    schema = "event_type string, ts timestamp, value double"

    def batch(seed: int):
        return spark.createDataFrame(
            [
                (et, dt.datetime(2024, 1, 1 + d, h, seed), float(seed + h))
                for et in ("click", "purchase")
                for d in range(3)
                for h in (1, 5 + seed)
            ],
            schema,
        )

    sink = rollup_maintenance_sink(state, "budget")
    sink(batch(0), 0)  # bootstrap: one part
    assert len(current_snapshot(state).files) == 1
    b1 = batch(1)
    fold = jobs_in("rollup-fold", lambda: sink(b1, 1))
    assert 0 < fold <= ROLLUP_FOLD_JOB_BUDGET, fold
    v = current_snapshot(state).version
    b1_again = batch(1)
    assert jobs_in("rollup-replay", lambda: sink(b1_again, 1)) == 0
    assert current_snapshot(state).version == v

