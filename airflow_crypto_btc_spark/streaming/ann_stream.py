"""Streaming embedding-index maintenance: keep the hyperplane-LSH ANN
index of ``operators/similarity`` current ON a stream of arriving
vectors, and emit embedding-cosine near-duplicate pairs exactly once —
in the micro-batch of their LATER endpoint.

Per micro-batch:

1. drop ids the index already holds (re-delivery from an at-least-once
   source) by anti-joining the committed index table;
2. hash the survivors to their sign-bucket (same
   ``hyperplane_bucket_expr`` as the batch operator — bucket keys must
   be computed identically forever or the persisted index stops
   matching) and compute their norms;
3. probe the committed index ∪ the in-flight batch rows for same-bucket
   pairs with exact cosine ≥ threshold and at least one batch endpoint
   (the batch side is one join INPUT, so cost is |batch| ×
   bucket-mates, never |index|²);
4. commit the INDEX rows first — a compare-and-swap anchored on the
   index version the anti-join and the pair probe read (round-9: a
   racing second writer loses the put-if-absent arbitration with zero
   side effects) — then the pairs.  A crash between the appends
   replays the batch against the PRE-FOLD index snapshot (time
   travel via the index txn's version), so the pair set recomputes
   identically even though the live index now holds the batch's own
   rows; re-delivered ids in later batches anti-join away.

Scale shape: the index table is the serving artifact (vectors + norms +
bucket), appended per batch with the bucket column's min/max recorded in
the commit-log stats (strings are stats-tracked), so bucket-range file
skipping keeps working as parts accumulate; ``compact_every`` rewrites
the table periodically to bound the part count.  The batch side of the
pair probe is explicitly broadcast — the growing index is never
shuffled per batch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    dot_expr,
    dot_expr_unrolled,
    norm2_expr,
)
from airflow_crypto_btc_spark.operators.incremental import (
    ConcurrentMaintenanceError,
)
from airflow_crypto_btc_spark.operators.similarity import (
    hyperplane_bucket_expr,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    read_snapshot_or_none,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    SourcePin,
    cas_guard,
    compact_tables,
    fold_sink,
    maintenance_due,
    new_rows,
    snapshot_rows,
)


def vector_order(vec_col: str):
    """Within-batch dedup order of the vector sinks: md5 of the
    stringified vector, so a crash replay picks the same representative
    per id.  One definition for the ANN index, PQ codes, IVF-PQ and
    semantic streams — their replay semantics must never diverge."""
    return F.md5(F.concat_ws(",", F.transform(
        F.col(vec_col), lambda x: x.cast("string")
    )))


def embedding_index_sink(
    index_table: str,
    pairs_table: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    cosine_threshold: float = 0.9,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
    max_bucket_size: int | None = None,
):
    """``foreachBatch`` callback maintaining the ANN index table
    (nid, ve, vn, bucket) and the emitted near-dup pairs table with
    exactly-once semantics.

    ``max_bucket_size`` caps the PROBE side per batch, mirroring the
    batch operator (``similarity.embedding_near_dup_pairs``): the batch
    side of the pair join is bounded by batch size, but its bucket-mates
    side grows with the committed index — on a near-dup-heavy stream one
    hot sign-bucket accumulates O(index) rows and the per-batch probe
    goes quadratic in it.  With a cap, buckets whose index ∪ batch
    population exceeds it emit no pairs that batch (the INDEX still
    gains every batch row — only pair emission is capped, so the
    serving artifact stays complete); audit the skipped mass with
    ``similarity.embedding_near_dup_skipped_buckets`` over the index
    table's rows."""

    state: dict = {}  # vector width, probed once across the stream

    def _fold(batch_df, batch_id: int) -> None:
        from airflow_crypto_btc_spark.operators.dedup import _cap_buckets
        from airflow_crypto_btc_spark.operators.similarity import _vec_dim

        spark = batch_df.sparkSession
        # literal-weight bucket fast path: probe the width on the first
        # non-empty batch and reuse it for the stream's lifetime (the
        # bucket VALUES are identical either way — only the per-row
        # md5-in-HOF cost disappears)
        if "dim" not in state:
            d = _vec_dim(batch_df, vec_col)
            if d is not None:
                state["dim"] = d
        dim = state.get("dim")
        # CAS anchor: the index version the freshness anti-join and the
        # pair probe are based on (round-9 closure).  A replayed batch
        # whose index fold already landed reads the PRE-FOLD snapshot
        # (time travel) — the live index now holds the batch's own rows,
        # which would empty the fresh set and drop the batch's pairs.
        from airflow_crypto_btc_spark.sources.snapshot_table import (
            current_snapshot,
            read_snapshot,
            txn_version,
        )

        index_txn = f"{query_name}:{batch_id}:index"
        index_v = current_snapshot(index_table).version
        folded_v = txn_version(index_table, index_txn)
        if folded_v is not None:
            committed = (
                read_snapshot(spark, index_table, version=folded_v - 1)
                if folded_v > 0
                else None
            )
        else:
            committed = read_snapshot_or_none(spark, index_table)
        fresh = new_rows(
            batch_df, id_col, vector_order(vec_col), committed, "nid"
        )
        batch_rows = (
            fresh.select(
                F.col(id_col).alias("nid"),
                F.col(vec_col).alias("ve"),
                hyperplane_bucket_expr(vec_col, planes, dim).alias(
                    "bucket"
                ),
            )
            .withColumn("vn", F.sqrt(norm2_expr("ve")))
            # numeric bucket twin — matches build_ann_index's schema so
            # cluster_by=["bnum"] compaction keeps working on a
            # stream-fed index
            .withColumn("bnum", F.conv("bucket", 2, 10).cast("long"))
            .localCheckpoint(eager=False)
        )
        probe_base = (
            batch_rows if committed is None
            # allowMissingColumns: an index built before the bnum column
            # existed unions with nulls (its files simply never prune)
            else committed.unionByName(
                batch_rows, allowMissingColumns=True
            )
        )
        if max_bucket_size is not None:
            # census on the same key the join shuffles on; the bucket
            # count aggregate is ≤ 2^planes rows — map-side combined,
            # never a second scan's worth of shuffle
            probe_base = _cap_buckets(
                probe_base, max_bucket_size, keys=("bucket",)
            )
        a = batch_rows.select(
            F.col("nid").alias("id_a"),
            F.col("ve").alias("ea"),
            F.col("vn").alias("na"),
            "bucket",
        )
        b = probe_base.select(
            F.col("nid").alias("id_b"),
            F.col("ve").alias("eb"),
            F.col("vn").alias("nb"),
            "bucket",
        )
        from airflow_crypto_btc_spark.operators.similarity import (
            _UNROLL_MAX_DIM,
        )

        pair_dot = (
            (lambda x, y: dot_expr_unrolled(x, y, dim))
            if dim is not None and dim <= _UNROLL_MAX_DIM
            else dot_expr
        )  # value-identical; see similarity._UNROLL_MAX_DIM for the gate
        cos = F.when(
            F.col("na") * F.col("nb") != 0,
            F.round(
                pair_dot("ea", "eb") / (F.col("na") * F.col("nb")), 6
            ),
        )
        pairs = (
            # batch side broadcast: the checkpointed leaf has no stats,
            # so without the hint the planner sort-merge-joins and
            # shuffles the ENTIRE growing index every micro-batch
            F.broadcast(a).join(b, ["bucket"])
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= cosine_threshold)
            # canonicalize; batch-batch pairs appear from both sides →
            # distinct collapses them, batch-index pairs appear once
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "cosine",
            )
            .distinct()
        )
        # index FIRST — the CAS-serialized fold (round-9 order flip; a
        # racing second writer loses the put-if-absent arbitration with
        # zero side effects) — then pairs, whose content is a pure
        # function of (batch, pre-fold index) and therefore replays
        # identically via the time-travel branch above
        if folded_v is None:
            with cas_guard():
                append(
                    spark, batch_rows, index_table,
                    txn_id=index_txn,
                    expect_version=index_v,
                )
        append(
            spark, pairs, pairs_table,
            txn_id=f"{query_name}:{batch_id}:pairs",
        )
        if maintenance_due(compact_every, batch_id):
            # the index rewrite bnum-CLUSTERS so the compacted parts
            # stay range-aligned and probe pruning keeps skipping files
            # as the stream grows
            compact_tables(
                spark, [index_table, pairs_table], compact_target_parts,
                cluster_by={index_table: ["bnum"]},
            )

    return _fold


def pq_codes_sink(
    index_root: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving vectors' PQ CODES to
    the persisted index (``operators/similarity.pq_save_index`` layout):
    the codebooks are FROZEN — loaded once at sink construction, with
    ``expect_source`` pinning them to the corpus generation the stream
    extends — and each batch encodes only its fresh ids against them
    (m·4 bytes per vector appended, the float payload never lands in
    the index).  A corpus-version change means retrain + rebuild, not
    streaming: appending codes from different codebooks would silently
    corrupt every ADC comparison, which is exactly what the version pin
    refuses.

    Replay safety: the ``snapshot_sink.fold_sink`` skeleton —
    already-encoded ids anti-join away against the committed codes and
    the single append per batch is exactly-once."""
    import os

    from airflow_crypto_btc_spark.operators.similarity import (
        pq_encode,
        pq_load_codebooks,
    )

    books_t = os.path.join(index_root, "books")
    codes_t = os.path.join(index_root, "codes")
    books_pin = SourcePin(books_t, "PQ codebooks", expect_source)
    books_cache = {}

    def _delta(batch_df, snap):
        books_pin.check()
        spark = batch_df.sparkSession
        if "books" not in books_cache:  # loaded once, on the first batch
            books_cache["books"] = pq_load_codebooks(spark, books_t)
        fresh = new_rows(
            batch_df, id_col, vector_order(vec_col),
            snapshot_rows(spark, codes_t, snap), "nid",
        )
        return pq_encode(fresh, books_cache["books"], id_col, vec_col)

    return fold_sink(
        codes_t, query_name, _delta, meta=books_pin.snap.meta,
        every=compact_every,
        maintain=lambda spark: compact_tables(
            spark, [codes_t], compact_target_parts
        ),
    )


def ivfpq_arrivals_sink(
    index_root: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the FULL IVF-PQ index
    (``operators/similarity.ivfpq_save_index`` layout) on a stream of
    arriving vectors: each batch encodes its fresh ids against the
    FROZEN codebooks and assigns them to the FROZEN centroid set, then
    appends (codes, lists) — so ``ivfpq_topk_from_index`` serves a
    corpus that grows online without ever re-training or re-scanning.

    Frozen-model contract: books AND centroids are version-asserted
    every batch (a retrain/re-seed mid-stream would silently mix code
    spaces or split inverted lists — refused, restart the sink against
    the new generation).  ``expect_source`` pins the generation at
    construction; all four index tables must agree (partial rebuilds
    refused).

    Exactly-once: within-batch dedup is deterministic, already-indexed
    ids anti-join away against the LISTS table (the final commit, so
    freshness keys off it), and both appends are txn-id idempotent pure
    functions of (batch, frozen model) — a crash between them replays
    the batch, the codes append skips via its txn id, and the lists
    append lands identical rows.  Concurrency: each append is a CAS
    anchored on the version its read was based on (racing folds lose
    the put-if-absent arbitration with zero side effects —
    ``ConcurrentMaintenanceError``); the cross-table window between the
    lists read and the codes commit is narrowed by an ohlc-style
    version guard and remains a single-writer-contract violation,
    surfaced rather than silent.

    Scale shape per batch: one broadcast-centroid assignment scan and
    one Arrow encode over the BATCH only; the growing index tables are
    touched only by the anti-join (id column) and the appends."""
    import os

    from airflow_crypto_btc_spark.operators.similarity import (
        _nearest_centroids,
        _vector_kernels,
        annotate_vec_dim,
        pq_encode,
        pq_load_codebooks,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
        read_snapshot,
    )

    parts = {
        name: os.path.join(index_root, name)
        for name in ("books", "codes", "centroids", "lists")
    }
    metas = {n: current_snapshot(p).meta for n, p in parts.items()}
    if len({tuple(sorted(m.items())) for m in metas.values()}) != 1:
        raise ValueError(
            f"IVF-PQ index tables disagree ({metas!r}) — partial "
            "rebuild, rebuild all four before streaming arrivals"
        )
    meta = metas["books"]
    pins = [
        SourcePin(parts["books"], "IVF-PQ index", expect_source),
        SourcePin(parts["centroids"], "IVF-PQ centroids"),
    ]
    cache: dict = {}

    def _fold(batch_df, batch_id: int) -> None:
        for pin in pins:
            pin.check()
        spark = batch_df.sparkSession
        if "books" not in cache:
            cache["books"] = pq_load_codebooks(spark, parts["books"])
        books = cache["books"]
        dim = len(books) * books[0].shape[1]
        # CAS anchors: the versions the anti-join (lists) and the codes
        # append are based on
        codes_v = current_snapshot(parts["codes"]).version
        lists_v = current_snapshot(parts["lists"]).version
        fresh = new_rows(
            batch_df, id_col, vector_order(vec_col),
            read_snapshot_or_none(spark, parts["lists"]), "nid",
        )
        # the round-9 width channel: the batch frame is derived (window
        # + anti-join), so stamp the dim known from the codebooks — the
        # assignment kernels go unrolled with zero probes
        fresh = annotate_vec_dim(fresh, vec_col, dim=dim)
        dot, nrm2, _d = _vector_kernels(fresh, vec_col)
        cent = read_snapshot(spark, parts["centroids"]).withColumn(
            "cn", F.sqrt(nrm2("ce"))
        )
        assigned = _nearest_centroids(
            fresh.select(
                F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
            ),
            cent, dot, nrm2, "nid", "ve", keep=1,
        ).select("nid", "cid")
        codes_new = pq_encode(fresh, books, id_col, vec_col)
        # fast-fail: a second writer that already folded would have
        # appended lists; the CAS below is the same-table guarantee
        if current_snapshot(parts["lists"]).version != lists_v:
            raise ConcurrentMaintenanceError(
                f"lists table moved past v{lists_v} during IVF-PQ "
                "maintenance — a second writer is sharing this index; "
                "retry the batch"
            )
        with cas_guard():
            append(
                spark, codes_new, parts["codes"],
                txn_id=f"{query_name}:{batch_id}:codes",
                meta=meta, expect_version=codes_v,
            )
            append(
                spark, assigned, parts["lists"],
                txn_id=f"{query_name}:{batch_id}:lists",
                meta=meta, expect_version=lists_v,
            )
        if maintenance_due(compact_every, batch_id):
            compact_tables(
                spark, [parts["codes"], parts["lists"]],
                compact_target_parts,
            )

    return _fold
