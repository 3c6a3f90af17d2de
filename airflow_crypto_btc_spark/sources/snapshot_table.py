"""Log-structured snapshot table format — ACID semantics for plain parquet.

The reference gets transactional rewrites from SQLite
(`/root/reference/dags/dag_btc_daily.py:287-295` — ``BEGIN; DELETE;
INSERT; COMMIT``) and idempotent re-runs from a unique index (``:147-155``).
Plain parquet directories have neither: ``mode("overwrite")`` deletes
before it writes (a reader can see an empty table), and a re-run day
double-appends.  This module adds the standard log-structured fix, the
same public design Delta Lake / Iceberg use, reduced to its core:

- Data files are immutable parquet parts under ``<table>/data/``;
  **the log, not the directory listing, defines the table**.
- ``<table>/_log/<version 8-digit>.json`` holds one commit each: a JSON
  record of ``add`` / ``remove`` file actions plus optional app-level
  transaction ids.
- A commit is ONE ``O_CREAT|O_EXCL`` create of the next version file —
  atomic on POSIX and object stores with put-if-absent.  Losers of a race
  re-read the log and retry (optimistic concurrency).
- Readers replay the log to a version: old snapshots stay fully readable
  (time travel), concurrent readers never observe a half-written state
  because data files are written *before* the log entry that reveals them.

Scale notes: the log is tiny (file names, not data) and replay is
O(#commits); at 100 TB the data files are the same parquet Spark already
scans — predicate pushdown / partition pruning are untouched.  Upsert is
copy-on-write MERGE: rewrite only with the merged result, never in place.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_log"
_DATA_DIR = "data"

#: column types that get min/max stats in the commit log (data skipping)
_STATS_TYPES = {
    "int", "bigint", "smallint", "tinyint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string",
}


@dataclass
class Snapshot:
    version: int
    files: list[str]
    txn_ids: set[str] = field(default_factory=set)
    stats: dict[str, dict] = field(default_factory=dict)
    #: free-form commit metadata (e.g. the source-corpus version an index
    #: was built from); the LATEST commit that carried meta wins
    meta: dict = field(default_factory=dict)


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.json")


def _list_versions(table: str) -> list[int]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json")
    )


def _read_entry(table: str, version: int) -> dict:
    with open(_log_path(table, version)) as fh:
        return json.load(fh)


def current_snapshot(table: str, version: int | None = None) -> Snapshot:
    """Replay the commit log up to ``version`` (default: latest).  The
    returned file set IS the table at that version."""
    versions = _list_versions(table)
    if version is not None:
        versions = [v for v in versions if v <= version]
    files: set[str] = set()
    txns: set[str] = set()
    stats: dict[str, dict] = {}
    meta: dict = {}
    last = -1
    for v in versions:
        entry = _read_entry(table, v)
        for a in entry.get("add", []):
            files.add(a)
            if a in entry.get("stats", {}):
                stats[a] = entry["stats"][a]
        for r in entry.get("remove", []):
            files.discard(r)
            stats.pop(r, None)
        if entry.get("txn_id"):
            txns.add(entry["txn_id"])
        if entry.get("meta"):
            meta = entry["meta"]
        last = v
    return Snapshot(
        version=last, files=sorted(files), txn_ids=txns, stats=stats,
        meta=meta,
    )


def _txn_entry(table: str, txn_id: str) -> tuple[int, dict] | None:
    """(version, log entry) of the commit that carried ``txn_id``.
    Scans NEWEST-FIRST with early exit: callers are replay branches of
    streaming maintainers probing for their OWN batch's txn, which —
    when present at all — sits in the most recent commits, so the
    common per-micro-batch probe opens O(1) log files instead of
    O(#commits) (round-9 ADVICE: the oldest-first scan made a
    long-running stream's cumulative replay cost quadratic).  A miss
    (fresh txn) still reads the whole log once — same cost as the
    ``current_snapshot`` replay every commit already pays."""
    for v in reversed(_list_versions(table)):
        entry = _read_entry(table, v)
        if entry.get("txn_id") == txn_id:
            return v, entry
    return None


def txn_version(table: str, txn_id: str) -> int | None:
    """Version of the commit that carried ``txn_id`` (``None`` if no
    commit did).  With :func:`snapshot_changes` this lets a replayed
    multi-commit batch recover exactly WHAT its already-landed state
    commit folded (the rows of that version's added files) and derive
    its remaining commits from that record — the second half of the
    deterministic-replay pattern (:func:`txn_meta` covers pinned scalar
    inputs; this covers pinned row sets).  Newest-first early-exit scan
    (txn ids are unique in the log: idempotent retries skip instead of
    re-committing, and the put-if-absent file is the arbiter)."""
    hit = _txn_entry(table, txn_id)
    return hit[0] if hit else None


def txn_meta(table: str, txn_id: str) -> dict | None:
    """Commit metadata of the log entry that carried ``txn_id`` (``None``
    if no commit did).  Multi-commit maintenance batches use this to make
    replays deterministic: the FIRST (CAS-serialized) commit records the
    exact inputs its fold was computed from — e.g. the quota sink's
    per-domain prior counts — and a replayed batch recomputes its
    follow-up commits from that pinned record instead of from live state
    that has already moved past the fold.  Newest-first early-exit scan
    (see :func:`_txn_entry`)."""
    hit = _txn_entry(table, txn_id)
    return (hit[1].get("meta") or {}) if hit else None


def _json_safe(v):
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _collect_stats(df: DataFrame) -> dict:
    """Per-part min/max column stats plus the part's ROW COUNT (the
    reserved ``__nrows`` key — column names can't collide, reserved
    ``__``-prefixed engine columns are never stats-typed by accident
    here because it is written unconditionally), computed at staging
    time (one small aggregate job) and recorded in the commit entry —
    the data-skipping metadata Delta/Iceberg keep per file.  The row
    count makes "how big is this table" a METADATA question for
    append-only tables (sum over live parts is exact), which the
    merge-on-read serve's overdue gate needs (round-14 ADVICE).
    JSON-safe: temporal values as ISO strings (lexicographic order ==
    chronological order)."""
    from pyspark.sql import functions as F

    cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in _STATS_TYPES
    ]
    aggs = [F.count(F.lit(1)).alias("__nrows")]
    for c in cols:
        aggs += [F.min(c).alias(f"mn__{c}"), F.max(c).alias(f"mx__{c}")]
    row = df.agg(*aggs).collect()[0].asDict()
    out = {
        c: [_json_safe(row[f"mn__{c}"]), _json_safe(row[f"mx__{c}"])]
        for c in cols
        if row[f"mn__{c}"] is not None
    }
    out["__nrows"] = int(row["__nrows"])
    return out


def snapshot_nrows(snap: Snapshot) -> int | None:
    """EXACT live row count derived purely from the per-part ``__nrows``
    stats — no scan job.  Every part's count is computed at staging
    time and rewrites re-stage their parts, so the sum over the live
    file set is the table's row count at that snapshot.  Returns
    ``None`` when any live part predates row-count stats (the caller
    must fall back to a ``count()`` job)."""
    total = 0
    for f in snap.files:
        n = (snap.stats.get(f) or {}).get("__nrows")
        if n is None:
            return None
        total += int(n)
    return total


def _overlaps(file_stats: dict, col: str, lo, hi) -> bool:
    """Conservative overlap test: a file is skippable ONLY when its stats
    prove [min,max] ∩ [lo,hi] = ∅; missing stats keep the file."""
    rng = (file_stats or {}).get(col)
    if not rng:
        return True
    mn, mx = rng
    lo, hi = _json_safe(lo), _json_safe(hi)
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


def _prune_ranges(prune: tuple) -> tuple[str, list[tuple]]:
    """Normalize the two accepted prune shapes to (col, [(lo, hi), ...]):
    ``(col, lo, hi)`` — one range — and ``(col, ranges)`` where ranges is
    a list of (lo, hi) pairs (a SCATTERED probe set: e.g. the cid/bnum
    list of an ANN probe, one degenerate [v, v] range per value, so a
    clustered table skips every file between two probed keys instead of
    reading the whole [min, max] envelope)."""
    if len(prune) == 3:
        col, lo, hi = prune
        return col, [(lo, hi)]
    col, ranges = prune
    return col, [tuple(r) for r in ranges]


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Scan exactly the files live at ``version`` — a consistent snapshot
    regardless of concurrent commits or leftover uncommitted parts.

    ``prune=(col, lo, hi)`` additionally skips every file whose logged
    min/max range provably misses [lo, hi] (None = unbounded side) —
    log-level data skipping on top of parquet row-group pruning.
    ``prune=(col, [(lo, hi), ...])`` keeps a file when it overlaps ANY
    of the ranges — multi-range skipping for scattered probe sets (an
    empty list prunes everything: zero probed keys match zero rows).
    The caller still applies its own row filter; pruning is a
    correct-by-construction superset of the matching files."""
    snap = current_snapshot(table, version)
    if not snap.files:
        raise ValueError(f"snapshot table {table} is empty at v{version}")
    files = snap.files
    if prune is not None:
        col, ranges = _prune_ranges(prune)
        files = [
            f
            for f in files
            if any(
                _overlaps(snap.stats.get(f), col, lo, hi)
                for lo, hi in ranges
            )
        ]
    paths = [os.path.join(table, _DATA_DIR, f) for f in snap.files]
    if not files:  # nothing can match: keep the schema, return zero rows
        # ALL paths, not one: the union schema of an evolved table cannot
        # be derived from an arbitrary single part
        return spark.read.option("mergeSchema", "true").parquet(
            *paths
        ).filter("1 = 0")
    # mergeSchema: ADDITIVE schema evolution — a commit may append parts
    # with new columns; the merged read surfaces the union schema with
    # nulls for pre-evolution rows (Delta semantics).  Type changes are
    # not supported (parquet union of incompatible types errors loudly).
    # Old snapshots read only their own files, so time travel sees the
    # schema as of that version.
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table, _DATA_DIR, f) for f in files]
    )
    if len(files) < len(snap.files):
        # pruning must not change the SCHEMA: if every post-evolution
        # part was skipped, the kept files' footers alone would miss the
        # evolved columns — align to the full snapshot's union schema
        # (footer-only read of the pruned-away parts, no data scan)
        df = df.unionByName(
            spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .filter("1 = 0"),
            allowMissingColumns=True,
        )
    return df


#: dtypes the key-range check can test, mapped to the SQL type both the
#: probe values and the logged bounds are compared in; a key column of
#: any other dtype is an unbounded range (conservative, never incorrect)
_RANGE_TEST_TYPES = {
    "int": "bigint", "bigint": "bigint", "smallint": "bigint",
    "tinyint": "bigint", "float": "double", "double": "double",
    "string": "string", "date": "string",
}

#: the native JSON types of logged bounds that compare faithfully in
#: each SQL type, and the coercion into it
_BOUND_TYPES = {
    "bigint": ((int,), int),
    "double": ((int, float), float),
    "string": ((str,), str),
}


def _stat_range(file_stats: dict | None, col: str, sql_t: str):
    """``(lo, hi)`` of ``col`` in one file's logged stats, coerced to
    ``sql_t`` — or ``None`` when the file has no usable bound: stats
    missing or malformed, or bounds whose native JSON type disagrees
    with the probe's (round-14 ADVICE: str() on a bigint-keyed table's
    int stats compared '100' < '99' lexicographically and could skip a
    file that holds a matching key).  A faithful cross-type compare
    exists only within the numeric family; bool is never a bound."""
    rng = (file_stats or {}).get(col)
    ok, coerce = _BOUND_TYPES[sql_t]
    if not (
        isinstance(rng, list)
        and len(rng) == 2
        and all(isinstance(x, ok) and not isinstance(x, bool) for x in rng)
    ):
        return None
    return coerce(rng[0]), coerce(rng[1])


def _files_overlapping(
    spark: SparkSession,
    snap: Snapshot,
    probe_df: DataFrame,
    pairs: list[tuple[str, str]],
) -> tuple[list[str], list[str]]:
    """The key-range check behind both public forms.  ``pairs`` maps each
    probe column of ``probe_df`` to the stats column it is tested
    against in the target table.  A file is TOUCHED when one probe row
    lies inside the file's logged [lo, hi] on EVERY pair; a pair the
    file has no usable bound for is an unbounded range (true)."""
    dtypes = dict(probe_df.dtypes)
    # a probe column of an untestable dtype is unbounded on every file
    tested = [
        (p, c, _RANGE_TEST_TYPES[dtypes[p]])
        for p, c in pairs
        if dtypes[p] in _RANGE_TEST_TYPES
    ]
    bounded, unbounded = [], []
    for f in snap.files:
        ranges = [_stat_range(snap.stats.get(f), c, t) for _, c, t in tested]
        if all(r is None for r in ranges):
            unbounded.append(f)  # no column can rule the file out
        else:
            bounded.append(
                (f, *[v for r in ranges for v in (r or (None, None))])
            )
    hits: set[str] = set()
    if bounded:
        # one broadcast range join: the metadata-sized
        # (f, lo_1, hi_1, …, lo_k, hi_k) table against the probe rows,
        # all key columns ANDed per probe row; only #files rows ever
        # reach the driver
        ranges_df = spark.createDataFrame(
            bounded,
            ", ".join(
                ["f string"]
                + [
                    f"lo_{i} {t}, hi_{i} {t}"
                    for i, (_, _, t) in enumerate(tested)
                ]
            ),
        )
        # dates cast to ISO strings, the form their stats are logged in
        probe = probe_df.select(
            *[
                F.col(p).cast(t).alias(f"k_{i}")
                for i, (p, _, t) in enumerate(tested)
            ]
        )
        cond = F.lit(True)
        for i in range(len(tested)):
            lo = F.col(f"lo_{i}")
            cond &= lo.isNull() | F.col(f"k_{i}").between(lo, F.col(f"hi_{i}"))
        hits = {
            r["f"]
            for r in probe.join(F.broadcast(ranges_df), cond)
            .select("f")
            .distinct()
            .collect()
        }
    touched = set(unbounded) | hits
    return (
        sorted(touched),
        [f for f in snap.files if f not in touched],
    )


def files_overlapping_keys(
    spark: SparkSession, snap: Snapshot, keys_df: DataFrame, col: str
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (touched, carried) by ONE key
    column: a file is TOUCHED when its logged [min, max] range of
    ``col`` can contain one of the probe values (``keys_df``'s single
    column, which may be named differently — e.g. the takedown set's
    normalized ``__td_id`` probing a ``doc_id``-keyed table).  The
    one-column case of :func:`files_overlapping_all_keys`."""
    return _files_overlapping(
        spark, snap, keys_df, [(keys_df.columns[0], col)]
    )


def files_overlapping_all_keys(
    spark: SparkSession,
    snap: Snapshot,
    incoming: DataFrame,
    cols: list[str],
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (touched, carried) for a compound
    key — the Delta/Iceberg file-skipping test behind narrowed
    DELETE/MERGE rewrites.  A file is TOUCHED when ONE incoming row lies
    inside the file's logged [min, max] on EVERY key column at once,
    checked in a single pass: one broadcast range join of the incoming
    keys against a ``(f, lo_1, hi_1, …, lo_k, hi_k)`` table built from
    the logged stats, so the result is never looser than intersecting
    per-column overlap sets and can be tighter (keys that overlap a
    file on each column separately, but not together, skip it).

    Conservative where the stats cannot decide: a key column whose
    stats are missing, malformed or of a different native type than the
    probe on a file, and every key column whose dtype has no faithful
    range comparison (timestamps survive the stats JSON round-trip with
    a different text shape), is an unbounded range — narrowing may only
    ever widen, never miss a matching row.  Integrals compare as bigint
    (a double cast would lose >2^53 precision and could skip a file
    that matches); dates compare as ISO strings."""
    return _files_overlapping(
        spark, snap, incoming, [(c, c) for c in cols]
    )


def read_parts(
    spark: SparkSession,
    table: str,
    files: list[str],
    schema_files: list[str] | None = None,
) -> DataFrame:
    """Scan an EXPLICIT subset of a snapshot's part files — the
    copy-on-write rewrite path's reader (a DELETE touches only the
    files whose stats overlap the deletion set; the survivors of those
    files are rewritten, every other file carries over by reference).
    ``schema_files`` (default: the subset) aligns the result to the
    union schema of a wider file set, the same additive-evolution
    guard ``read_snapshot`` applies when pruning skips the only parts
    that carry an evolved column."""
    if not files:
        raise ValueError("read_parts needs at least one file")
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table, _DATA_DIR, f) for f in files]
    )
    if schema_files and set(schema_files) - set(files):
        df = df.unionByName(
            spark.read.option("mergeSchema", "true")
            .parquet(
                *[
                    os.path.join(table, _DATA_DIR, f)
                    for f in schema_files
                ]
            )
            .filter("1 = 0"),
            allowMissingColumns=True,
        )
    return df


def read_snapshot_or_none(
    spark: SparkSession, table: str
) -> DataFrame | None:
    """``read_snapshot`` for bootstrap paths: ``None`` when the table
    has no committed snapshot yet (first micro-batch of a stream); any
    other failure propagates.  Shared by every streaming sink."""
    try:
        return read_snapshot(spark, table)
    except ValueError:
        return None


def _write_parts(df: DataFrame, table: str) -> tuple[list[str], dict]:
    """Stage immutable data files (INVISIBLE until a commit references
    them) plus their min/max column stats.  One part dir per staged write
    keeps names collision-free; stats granularity is the part."""
    part = f"part-{uuid.uuid4().hex}"
    out = os.path.join(table, _DATA_DIR, part)
    df.write.mode("error").parquet(out)
    df_back = df.sparkSession.read.parquet(out)
    return [part], {part: _collect_stats(df_back)}


def _write_clustered_parts(
    clustered: DataFrame, table: str, stat_cols: list[str]
) -> tuple[list[str], dict]:
    """Stage every range part of a clustered compact in ONE
    ``partitionBy`` write job (each task owns exactly one ``__pid``, so
    each partition dir lands exactly one data file) plus ONE grouped
    aggregate for all per-part min/max stats.  Replaces the previous
    one-write-job-PER-part loop — O(target_parts) sequential driver
    round-trips that took minutes at a few thousand files (found by the
    round-13 takedown probe's sf1 zone build)."""
    part = f"part-{uuid.uuid4().hex}"
    out = os.path.join(table, _DATA_DIR, part)
    clustered.drop("__z").write.partitionBy("__pid").mode(
        "error"
    ).parquet(out)
    pids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(out)
        if d.startswith("__pid=")
    )
    parts = [f"{part}/__pid={pid}" for pid in pids]
    stats: dict[str, dict] = {p: {} for p in parts}
    aggs = [F.count(F.lit(1)).alias("__nrows")]
    for c in stat_cols:
        aggs += [
            F.min(c).alias(f"mn__{c}"),
            F.max(c).alias(f"mx__{c}"),
        ]
    for r in clustered.groupBy("__pid").agg(*aggs).collect():
        d = r.asDict()
        part_stats = {
            c: [
                _json_safe(d[f"mn__{c}"]),
                _json_safe(d[f"mx__{c}"]),
            ]
            for c in stat_cols
            if d[f"mn__{c}"] is not None
        }
        part_stats["__nrows"] = int(d["__nrows"])
        stats[f"{part}/__pid={int(d['__pid'])}"] = part_stats
    return parts, stats


def _try_commit(table: str, version: int, entry: dict) -> bool:
    """put-if-absent of the next log file — the atomic commit point.

    Write-temp-then-hardlink, NOT create-then-write: an O_CREAT|O_EXCL
    create followed by the JSON write has a window where a concurrent
    reader's ``current_snapshot`` opens the already-visible name and
    json-loads an empty file (found by the round-11 multi-process race
    test — in-process racers never hit it).  ``os.link`` publishes the
    fully-written, fsynced content under the version name atomically and
    raises FileExistsError for the race loser, so readers can never
    observe a partial commit and writers keep exclusive-create semantics.
    (On an object store the equivalent is a single put-if-absent, which
    is content-atomic by construction.)"""
    log_dir = os.path.join(table, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    path = _log_path(table, version)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    except FileNotFoundError:
        # a concurrent vacuum reaped the temp file: this committer
        # stalled past the reaper's age floor between fsync and publish
        # (GC pause, NFS stall).  Nothing was published under the
        # version name, so the commit is simply RETRYABLE — the caller's
        # loop stages a fresh temp file at the same (still-free) version
        return False
    finally:
        # the winner's unlink can race a vacuum reaper that already
        # removed the temp name — both outcomes leave the same state
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


class CommitConflictError(RuntimeError):
    """An ``expect_version`` commit lost its compare-and-swap: another
    writer committed first.  The caller's read-compute-commit span is
    stale and must be retried FROM THE READ, not by re-committing."""


def commit(
    table: str,
    add: list[str],
    remove: list[str],
    operation: str,
    txn_id: str | None = None,
    max_retries: int = 20,
    stats: dict | None = None,
    meta: dict | None = None,
    expect_version: int | None = None,
) -> int:
    """Optimistic-concurrency commit loop: losers re-read the log and retry
    at the next version.  Append-shaped commits are always safe to retry;
    full-replace commits pass their ``remove`` set computed at staging time
    (last-writer-wins, like the reference's DELETE+INSERT).

    ``expect_version`` turns the commit into a COMPARE-AND-SWAP: it
    succeeds only as version ``expect_version + 1`` (i.e. only if the
    table is still exactly at the version the caller read) and raises
    :class:`CommitConflictError` instead of retrying otherwise.  This is
    how read-compute-commit cycles whose correctness depends on the READ
    snapshot (incremental maintenance folding a delta into state) close
    their check-to-commit race: the put-if-absent log file is the atomic
    arbiter, so exactly one of two racing writers can ever win."""
    for _ in range(max_retries):
        snap = current_snapshot(table)
        version = snap.version + 1
        if txn_id and txn_id in snap.txn_ids:
            return -1  # already committed by a racing idempotent retry
        if expect_version is not None and version != expect_version + 1:
            raise CommitConflictError(
                f"{table}: expected to commit v{expect_version + 1} but "
                f"the table is already past it (next free is v{version}) "
                "— re-read and recompute before retrying"
            )
        entry = {
            "version": version,
            "operation": operation,
            "add": add,
            "remove": remove,
            **({"stats": stats} if stats else {}),
            **({"txn_id": txn_id} if txn_id else {}),
            **({"meta": meta} if meta else {}),
        }
        if _try_commit(table, version, entry):
            return version
    raise RuntimeError(f"commit contention on {table} after {max_retries} tries")


def append(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    txn_id: str | None = None,
    meta: dict | None = None,
    expect_version: int | None = None,
) -> int:
    """Transactional append.  ``txn_id`` makes a re-run idempotent: if a
    commit with this id is already in the log (the reference's
    skip-if-done, ``:52-53``), nothing is staged and no commit happens.
    Returns the committed version, or -1 for an idempotent skip.
    ``expect_version`` makes the commit a CAS (see :func:`commit`)."""
    if txn_id and txn_id in current_snapshot(table).txn_ids:
        return -1
    parts, stats = _write_parts(df, table)
    return commit(table, add=parts, remove=[], operation="append",
                  txn_id=txn_id, stats=stats, meta=meta,
                  expect_version=expect_version)


def overwrite(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    meta: dict | None = None,
    expect_version: int | None = None,
) -> int:
    """The reference's transactional rewrite (S7): stage the new data,
    then one commit swaps the entire live set.  Readers see the old table
    until the commit lands, the new one after — never both, never neither.
    ``expect_version`` makes the swap a CAS (see :func:`commit`): a
    read-modify-overwrite fold (e.g. the streaming bloom state's bitmap
    OR) anchored on the version it read can never silently drop a racing
    writer's update."""
    old = current_snapshot(table).files
    parts, stats = _write_parts(df, table)
    return commit(table, add=parts, remove=old, operation="overwrite",
                  stats=stats, meta=meta, expect_version=expect_version)


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-value expression: min-max scale each (numeric) cluster column to a
    ``bits``-bit integer, then interleave the bits so that files sorted by
    the result are locality-clustered in EVERY clustered dimension at
    once.  Stats come from one driver-side aggregate over the snapshot —
    compaction is a maintenance command, the action is intended.
    (Float scaling is fine HERE because only the ordering matters; the
    oracle-exact integer twin with measured pruning reports lives in
    ``operators/zorder.py`` — the analysis side of the same idea.)"""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    stats = df.agg(*aggs).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx == mn:  # constant column: contributes nothing to ordering
            scaled.append(F.lit(0).cast("long"))
        else:
            scaled.append(
                F.least(
                    F.lit(top),
                    ((F.col(c) - mn) / (mx - mn) * top).cast("long"),
                )
            )
    z = F.lit(0).cast("long")
    n = len(scaled)
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + (n - 1 - j)))
    return z


def compact(
    spark: SparkSession,
    table: str,
    target_parts: int = 1,
    cluster_by: list[str] | None = None,
    max_retries: int = 5,
) -> int:
    """OPTIMIZE: rewrite the current live set into ``target_parts`` larger
    parts in one atomic commit — the small-file answer for a table fed by
    many incremental appends (a year of day-commits = hundreds of tiny
    parts whose per-file open/footer cost dominates a 100 TB scan).

    Data-preserving by construction (pure rewrite of the snapshot it
    read), and time travel to pre-compaction versions keeps working
    because old parts are only de-referenced, not deleted (``vacuum``
    reclaims them).  Concurrency: the commit is attempted ONLY at
    ``base_version + 1`` — if any writer lands first, the staged rewrite
    is abandoned and the whole compact retries against the new snapshot,
    so a concurrent append can never be silently dropped by the
    compaction's remove-set.

    ``cluster_by`` additionally Z-ORDERS the rewrite (numeric columns):
    rows are range-partitioned and sorted by an interleaved-bit z-value,
    so each output file covers a narrow min/max range in EVERY clustered
    column and parquet row-group stats prune multi-dimensional predicates
    — the data-skipping layout a 100 TB scan lives or dies by.
    """
    for _ in range(max_retries):
        base = current_snapshot(table)
        if not base.files:
            raise ValueError(f"nothing to compact in {table}")
        df = read_snapshot(spark, table, base.version)
        if cluster_by:
            z = _zorder_column(df, cluster_by)
            clustered = (
                df.withColumn("__z", z)
                .repartitionByRange(target_parts, "__z")
                .sortWithinPartitions("__z")
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint(eager=False)
            )  # materialized once; each range is then written from cache
            # one PART per range partition, not one part for the whole
            # rewrite: log-level pruning (read_snapshot's prune=) skips
            # at PART granularity, so collapsing every range into a
            # single part would merge their stats and make clustered
            # layouts unprunable at the commit-log level — the parquet
            # row-group stats inside a part only help predicates Spark
            # pushes to the scan, which join keys are not
            parts, stats = _write_clustered_parts(
                clustered,
                table,
                [
                    f.name
                    for f in df.schema.fields
                    if f.dataType.simpleString() in _STATS_TYPES
                ],
            )
        else:
            parts, stats = _write_parts(df.coalesce(target_parts), table)
        entry = {
            "version": base.version + 1,
            "operation": "compact",
            "add": parts,
            "remove": base.files,
            "stats": stats,
        }
        if _try_commit(table, base.version + 1, entry):
            return base.version + 1
    raise RuntimeError(f"compact contention on {table} after {max_retries} tries")


def vacuum(table: str, keep_versions: int = 2) -> list[str]:
    """Physically delete data parts no longer referenced by the last
    ``keep_versions`` snapshots.  Time travel older than the horizon stops
    working (exactly Delta/Iceberg VACUUM semantics); parts never
    mentioned in the log are left alone — they may be another writer's
    in-flight staging.  Returns the deleted part names.

    Also reaps stale ``.tmp-*`` commit files from the log dir: a
    committer that crashed between the temp write and the ``os.link``
    publish leaks one, and they would otherwise accumulate forever.  A
    LIVE committer's temp file exists only for the microseconds between
    write and link; the 10-minute age floor sits far above any plausible
    GC pause or NFS stall, and a committer that IS stalled past it loses
    only its temp file — ``_try_commit`` maps the resulting
    ``os.link`` FileNotFoundError to a retryable miss, never a torn
    commit."""
    import shutil
    import time as _time

    log_dir = os.path.join(table, _LOG_DIR)
    if os.path.isdir(log_dir):
        cutoff = _time.time() - 600
        for f in os.listdir(log_dir):
            if f.startswith(".tmp-"):
                p = os.path.join(log_dir, f)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.unlink(p)
                except OSError:
                    pass  # racing reaper/committer — someone handled it

    versions = _list_versions(table)
    if not versions:
        return []
    # ONE forward replay: a part was live at some version exactly when an
    # entry added it without removing it in that same entry, and the
    # kept set is the union of the live sets after each of the last
    # ``keep_versions`` entries — the same sets a per-version
    # ``current_snapshot`` computes, without its O(V^2) log reads
    kept = set(versions[-keep_versions:])
    live: set[str] = set()
    keep_refs: set[str] = set()
    ever_refs: set[str] = set()
    for v in versions:
        entry = _read_entry(table, v)
        removed = set(entry.get("remove", []))
        added = [a for a in entry.get("add", []) if a not in removed]
        live.update(entry.get("add", []))
        live -= removed
        ever_refs.update(added)
        if v in kept:
            keep_refs |= live
    doomed = sorted(ever_refs - keep_refs)
    for part in doomed:
        shutil.rmtree(os.path.join(table, _DATA_DIR, part),
                      ignore_errors=True)
        if "/" in part:
            # a clustered-compact range part ("part-x/__pid=3"):
            # reap the parent staging dir once its last child goes
            parent = os.path.join(
                table, _DATA_DIR, part.rsplit("/", 1)[0]
            )
            try:
                os.rmdir(parent)
            except OSError:
                pass  # still has live siblings (or already gone)
    return doomed


#: sentinel opting a rewrite commit OUT of its CAS anchor — the unsafe
#: stale-retry behavior, acceptable only under a strict single-writer
#: discipline (see :func:`upsert`)
UNANCHORED = object()


def upsert(
    spark: SparkSession,
    incoming: DataFrame,
    table: str,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    txn_id: str | None = None,
    expect_version: int | None | object = None,
    meta: dict | None = None,
    combine: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> int:
    """Copy-on-write MERGE (S8 semantics via operators/merge.upsert_by_key),
    NARROWED: only the files whose logged key ranges can hold an
    incoming key (:func:`files_overlapping_all_keys`) are read, merged
    and rewritten; every other file carries into the new snapshot by
    reference, so a constant-size batch merges in constant work
    regardless of table size.  A pure-insert batch (no file overlaps)
    removes nothing and appends one part.

    ``combine(old_rows, incoming) -> new_rows`` turns the MERGE into a
    FOLD: ``old_rows`` are the stored rows whose key is in ``incoming``
    (read from the touched files only), and the rows it returns replace
    them — e.g. ``merge_ohlc_states`` accumulating a batch's partial
    state into the stored one.  The fold is narrowed ONCE: one snapshot
    read, one key-range check and one read of the touched files serve
    both the old-row lookup and the rewrite.  When no file can hold an
    incoming key, ``combine`` is not called and ``incoming`` is inserted
    as is, so ``combine(<no rows>, incoming)`` must equal ``incoming``
    (true of any merge of partial states).

    Concurrency: ALWAYS CAS-anchored by default (round-14 ADVICE, the
    same discipline :func:`apply_changes` adopted in round 13): when
    ``expect_version`` is not given, the commit anchors on the snapshot
    version this merge read, so a racing compact/overlapping-upsert
    surfaces as :class:`CommitConflictError` to be retried from a fresh
    read — a REWRITE commit that silently retried at the next version
    with a stale remove-set would duplicate rows.  Pass the module
    sentinel ``UNANCHORED`` to opt INTO the old stale-retry behavior
    (safe only for a strict single-writer, where it saves the conflict
    retry on racing pure appends).

    ``txn_id`` makes a re-run idempotent exactly as in :func:`append`:
    if this id is already in the log, nothing is staged or committed and
    -1 is returned before any Spark job (the exactly-once hook
    incremental consumers need — a crash between commit and the caller
    persisting its offset must not re-apply a non-idempotent merge like
    a count accumulation)."""
    from airflow_crypto_btc_spark.operators.merge import upsert_by_key

    snap = current_snapshot(table)
    if txn_id and txn_id in snap.txn_ids:
        return -1
    if not snap.files:
        raise ValueError(f"upsert needs an existing snapshot at {table}")
    if expect_version is None:
        expect_version = snap.version
    elif expect_version is UNANCHORED:
        expect_version = None
    if combine is not None:
        # the fold reads ``incoming`` three times (key check, old-row
        # lookup, combine): cut its lineage once, here, AFTER the txn
        # check — an AQE checkpoint runs its shuffle stages even when
        # lazy, so a replayed batch must return before this line
        incoming = incoming.localCheckpoint(eager=False)
    # a matching stored row in a carried file would have to lie inside
    # the file's range on EVERY key column together with one incoming
    # key, which the check just excluded, so carried files need no
    # merge and move zero bytes
    keys = list(key_cols)
    touched, _ = files_overlapping_all_keys(spark, snap, incoming, keys)
    if touched:
        existing = read_parts(
            spark, table, touched, schema_files=snap.files
        )
        if combine is not None:
            old_rows = existing.join(
                incoming.select(*keys), keys, "left_semi"
            )
            incoming = combine(old_rows, incoming)
    else:  # pure insert batch: no file overlaps any incoming key
        existing = read_parts(spark, table, snap.files).filter("1 = 0")
    merged = upsert_by_key(existing, incoming, keys, update_cols)
    parts, stats = _write_parts(merged, table)
    return commit(table, add=parts, remove=touched, operation="upsert",
                  txn_id=txn_id, stats=stats,
                  expect_version=expect_version, meta=meta)


def cdc_tombstones_table(table: str) -> str:
    """Path of a CDC table's delete-tombstone companion table — a
    nested snapshot table (own log, own data dir) holding ``(key…,
    __seq)`` for every key whose LATEST applied change was a delete.
    Without it, a late out-of-order insert would resurrect a key a
    newer sequence already deleted (the data row — and the ``__seq``
    watermark riding it — is gone).  Lives INSIDE the parent table dir
    so it travels with the table; the parent's vacuum/compact never
    see it (they operate on the parent's logged parts only)."""
    return os.path.join(table, "_cdc_tombstones")


def _fold_cdc_tombstones(
    spark: SparkSession,
    tomb: str,
    dels: DataFrame,
    up_keys: DataFrame,
    keys: list[str],
    txn_id: str | None,
) -> None:
    """Fold one batch's effective deletes/upserts into the tombstone
    table: deleted keys upsert their sequence (``greatest`` of old and
    new — a crash-window replay may present an older effective
    delete), resurrected keys leave.  Narrowed, txn-idempotent, and
    CAS-anchored exactly like the data fold.  MUST commit BEFORE the
    data commit: if a crash lands between the two, the replayed batch
    re-derives the same effective set from the still-unchanged data
    watermarks and txn-skips here — whereas data-first would leave no
    way to recover which deletes still owed their tombstones."""
    snap = current_snapshot(tomb)
    if txn_id and txn_id in snap.txn_ids:
        return  # crash-window replay: tombstones already folded
    new_dels = dels.groupBy(*keys).agg(F.max("__seq").alias("__seq"))
    if not snap.files:
        if dels.limit(1).count() == 0:
            return  # no tombstone table and nothing to tombstone
        parts, stats = _write_parts(new_dels, tomb)
        commit(tomb, add=parts, remove=[], operation="cdc_tombstones",
               txn_id=txn_id, stats=stats, expect_version=snap.version)
        return
    probe = dels.select(*keys).unionByName(up_keys)
    touched, _ = files_overlapping_all_keys(spark, snap, probe, keys)
    if not touched and dels.limit(1).count() == 0:
        return  # no tombstone overlaps this batch at all
    if touched:
        exist = read_parts(spark, tomb, touched, schema_files=snap.files)
        survivors = exist.join(F.broadcast(up_keys), keys, "left_anti")
        merged = (
            survivors.select(*keys, "__seq")
            .unionByName(new_dels)
            .groupBy(*keys)
            .agg(F.max("__seq").alias("__seq"))
        )
    else:
        merged = new_dels
    n = merged.count()
    parts, stats = (_write_parts(merged, tomb) if n else ([], {}))
    commit(tomb, add=parts, remove=touched, operation="cdc_tombstones",
           txn_id=txn_id, stats=stats, expect_version=snap.version)


def expire_cdc_tombstones(
    spark: SparkSession,
    table: str,
    below_seq,
    txn_id: str | None = None,
) -> int:
    """Retention for the CDC delete-tombstone companion: truncate
    tombstones whose ``__seq`` is strictly below the consumer's
    out-of-orderness HORIZON (Debezium's low watermark).  Once the
    source guarantees no change at-or-below ``below_seq`` can still
    arrive, those tombstones can never gate anything again — without
    expiry the companion grows O(all keys ever deleted) forever.

    File-narrowed via the logged ``__seq`` stats, so steady-state
    expiry is METADATA-ONLY: a file whose max __seq < horizon
    de-references whole (zero bytes move), a file entirely at-or-above
    carries, and only straddling files rewrite their survivors.
    CAS-anchored and txn-idempotent like every rewrite.  Returns the
    number of tombstones expired (0 for a replay or a missing table).

    SAFETY: expiring below a horizon the source has NOT sealed
    re-opens the resurrection window :func:`apply_changes` closed — a
    sub-horizon insert for an expired key would land.  The horizon is
    the caller's contract with its source, exactly as in DLT/Debezium."""
    tomb = cdc_tombstones_table(table)
    snap = current_snapshot(tomb)
    if txn_id and txn_id in snap.txn_ids:
        return 0
    if not snap.files:
        return 0
    drop, carry, straddle = [], [], []
    for f in snap.files:
        rng = (snap.stats.get(f) or {}).get("__seq")
        if not rng:
            straddle.append(f)  # no stats: must inspect rows
            continue
        if rng[1] < below_seq:
            # whole-file drop needs the exact count: legacy parts
            # without __nrows stats fall through to the row-inspecting
            # path so the return value stays exact
            if (snap.stats.get(f) or {}).get("__nrows") is None:
                straddle.append(f)
            else:
                drop.append(f)
        elif rng[0] >= below_seq:
            carry.append(f)
        else:
            straddle.append(f)
    if not drop and not straddle:
        return 0
    expired = sum(
        int(snap.stats[f]["__nrows"]) for f in drop
    )
    add: list[str] = []
    stats: dict = {}
    if straddle:
        rows = read_parts(spark, tomb, straddle,
                          schema_files=snap.files)
        survivors = rows.filter(F.col("__seq") >= F.lit(below_seq))
        n_before = rows.count()
        n_after = survivors.count()
        expired += n_before - n_after
        if n_after or not carry:
            add, stats = _write_parts(survivors, tomb)
    commit(
        tomb,
        add=add,
        remove=drop + straddle,
        operation="expire_tombstones",
        txn_id=txn_id,
        stats=stats,
        expect_version=snap.version,
    )
    return expired


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    table: str,
    key_cols: list[str],
    sequence_col: str,
    txn_id: str | None = None,
    expect_version: int | None = None,
    change_col: str = "_change_type",
) -> int:
    """APPLY CHANGES INTO — fold one CDC changelog batch (rows tagged
    ``_change_type`` ∈ insert/update/delete, ordered by
    ``sequence_col``) into a keyed snapshot table exactly-once, the
    Delta Live Tables / Debezium-consumer verb:

    - per key, the batch's LATEST change by ``sequence_col`` wins
      (DETERMINISM CONTRACT: (key, sequence) pairs are unique — ties
      would make the fold order-dependent, so they raise);
    - ``sequence_col`` is a GLOBAL ordering (round 14): every applied
      row carries its sequence as a ``__seq`` column, deleted keys
      park theirs in the :func:`cdc_tombstones_table` companion, and
      an incoming change applies only when its sequence is STRICTLY
      ABOVE the key's stored high-watermark — so a late-arriving batch
      whose sequences are older than already-applied state folds to a
      no-op instead of clobbering newer rows, and a late insert cannot
      resurrect a key a newer sequence deleted (DLT ``APPLY CHANGES …
      SEQUENCE BY`` out-of-order semantics).  Batches may arrive in
      ANY order and converge to the global-max-per-key end state;
      rows that predate CDC (null ``__seq``) accept any sequence.
      The watermark commits ATOMICALLY with the data it describes
      (it rides the data rows), so no crash can separate them; the
      delete tombstones commit FIRST and replay idempotently (see
      :func:`_fold_cdc_tombstones` for the crash-window argument).
    - latest delete → the key leaves the table; latest insert/update →
      upsert of that row's values (new keys insert; inserts and
      updates are deliberately interchangeable, as in DLT);
    - the rewrite NARROWS to the files whose key ranges overlap the
      batch (:func:`files_overlapping_all_keys`) — constant-size CDC
      batches fold in constant work regardless of table size, and the
      rewrite set is re-narrowed to the watermark-SURVIVING keys, so
      a fully-stale batch moves zero bytes;
    - exactly-once via ``txn_id`` (a replayed batch is a no-op), and
      ALWAYS CAS-anchored: when ``expect_version`` is not given, the
      commit anchors on the snapshot version this fold read — a
      rewrite commit that silently retried at the next version with a
      stale remove-set would duplicate rows against a racing compact
      (racing appends are the one case stale-retry handles correctly,
      and the anchor surfaces them as :class:`CommitConflictError` to
      be retried from a fresh read instead).

    Returns the committed version (or -1 for an idempotent skip)."""
    from pyspark.sql.window import Window

    from airflow_crypto_btc_spark.operators.merge import upsert_by_key

    snap = current_snapshot(table)
    if txn_id and txn_id in snap.txn_ids:
        return -1
    if not snap.files:
        raise ValueError(
            f"apply_changes needs an existing snapshot at {table}; "
            "bootstrap the table with append() first"
        )
    keys = list(key_cols)
    if "__seq" in changes.columns and sequence_col != "__seq":
        raise ValueError(
            "apply_changes: __seq is the reserved high-watermark "
            "column; rename it in the changelog"
        )
    w = Window.partitionBy(*keys).orderBy(F.col(sequence_col).desc())
    ranked = changes.withColumn("__rn", F.row_number().over(w))
    # the determinism contract: a (key, sequence) tie makes "latest"
    # order-dependent — fail loudly instead of folding arbitrarily
    dup = (
        changes.groupBy(*keys, sequence_col)
        .count()
        .filter("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "apply_changes: duplicate (key, sequence) in the batch — "
            "latest-wins would be nondeterministic"
        )
    latest = ranked.filter("__rn = 1").drop("__rn")
    latest = latest.localCheckpoint(eager=False)
    batch_keys = latest.select(*keys)

    # ---- phase A: the stored high-watermark per incoming key ----
    # data watermark = __seq of the key's current row (column-pruned
    # scan of the stat-overlapping files only); tombstone watermark =
    # the companion table's __seq for keys whose latest change was a
    # delete.  A key PRESENT in the data wins over any (stale,
    # crash-window) tombstone.
    wm_touched, wm_carried = files_overlapping_all_keys(
        spark, snap, batch_keys, keys
    )
    if wm_touched:
        wm_src = read_parts(
            spark, table, wm_touched, schema_files=snap.files
        )
    else:
        wm_src = read_snapshot(
            spark, table, version=snap.version
        ).filter("1 = 0")
    # the table's __seq dtype (pinned by the first CDC fold) governs;
    # mixed-width sequence dtypes across batches would otherwise break
    # the parquet schema merge
    seq_type = dict(wm_src.dtypes).get(
        "__seq", dict(changes.dtypes)[sequence_col]
    )
    if "__seq" not in wm_src.columns:
        wm_src = wm_src.withColumn("__seq", F.lit(None).cast(seq_type))
    data_wm = (
        wm_src.select(*keys, F.col("__seq").alias("__wm_data"))
        .join(F.broadcast(batch_keys), keys, "left_semi")
        .withColumn("__row_present", F.lit(True))
    )
    tomb = cdc_tombstones_table(table)
    tomb_snap = current_snapshot(tomb)
    tomb_wm = None
    if tomb_snap.files:
        t_touched, _ = files_overlapping_all_keys(
            spark, tomb_snap, batch_keys, keys
        )
        if t_touched:
            tomb_wm = (
                read_parts(
                    spark, tomb, t_touched,
                    schema_files=tomb_snap.files,
                )
                .select(*keys, F.col("__seq").alias("__wm_tomb"))
                .join(F.broadcast(batch_keys), keys, "left_semi")
            )
    gated = latest.join(F.broadcast(data_wm), keys, "left")
    if tomb_wm is not None:
        gated = gated.join(F.broadcast(tomb_wm), keys, "left")
    else:
        gated = gated.withColumn(
            "__wm_tomb", F.lit(None).cast(seq_type)
        )
    wm = F.when(
        F.col("__row_present"), F.col("__wm_data")
    ).otherwise(F.col("__wm_tomb"))
    # ONE binding for the keep-predicate: eff and the stale_any probe
    # below must negate each other exactly, or phase B reuses a
    # narrowing computed for the wrong key set
    keep = wm.isNull() | (F.col(sequence_col) > wm)
    eff = gated.filter(keep).drop(
        "__wm_data", "__wm_tomb", "__row_present"
    )
    eff = eff.localCheckpoint(eager=False)
    if eff.limit(1).count() == 0:
        # fully-stale batch: move zero bytes, but still record the txn
        # so the consumer's exactly-once ack holds on replay
        return commit(
            table, add=[], remove=[], operation="apply_changes",
            txn_id=txn_id,
            expect_version=(
                snap.version if expect_version is None
                else expect_version
            ),
        )
    # did the watermark gate anything?  One limit(1) probe on the
    # bounded gated frame; decides whether phase B may reuse phase A's
    # file narrowing (eff keys == batch keys when nothing was gated).
    # Runs AFTER the fully-stale early return — that path never reads
    # the answer and must not pay the probe job.
    stale_any = gated.filter(~keep).limit(1).count() > 0

    ups = (
        eff.filter(F.col(change_col) != F.lit("delete"))
        .drop(change_col)
        .withColumn("__seq", F.col(sequence_col).cast(seq_type))
    )
    if sequence_col != "__seq":
        # when the changelog's sequence column IS "__seq" (re-applying
        # rows read from a CDC-maintained table), the withColumn above
        # already replaced it in place — dropping it would strip the
        # watermark from every upserted row and stale-gate later
        # batches against the PREVIOUS row's sequence (round-14
        # self-review)
        ups = ups.drop(sequence_col)
    dels = eff.filter(F.col(change_col) == F.lit("delete")).select(
        *keys, F.col(sequence_col).cast(seq_type).alias("__seq")
    )

    # tombstones FIRST (see _fold_cdc_tombstones for why this order)
    _fold_cdc_tombstones(
        spark, tomb, dels, ups.select(*keys), keys, txn_id
    )

    # ---- phase B: the narrowed rewrite, re-narrowed to the keys that
    # actually survived the watermark ----
    if stale_any:
        touched, carried = files_overlapping_all_keys(
            spark, snap, eff.select(*keys), keys
        )
    else:
        # nothing was gated: eff's keys are exactly the batch keys
        # phase A already probed — reuse that narrowing instead of
        # paying the per-key-column range probe twice on the hot path
        # (round-14 self-review; stale batches are the rare case)
        touched, carried = wm_touched, wm_carried
    if touched:
        existing = read_parts(
            spark, table, touched, schema_files=snap.files
        )
    else:
        existing = read_snapshot(
            spark, table, version=snap.version
        ).filter("1 = 0")
    if "__seq" not in existing.columns:
        existing = existing.withColumn(
            "__seq", F.lit(None).cast(seq_type)
        )
    survivors = existing.join(
        F.broadcast(dels.select(*keys)), keys, "left_anti"
    )
    merged = upsert_by_key(survivors, ups, keys)
    # a batch that deletes every row of the touched files (and inserts
    # nothing) must keep a schema tombstone if no file would remain
    n_merged = merged.count()
    parts, stats = (
        _write_parts(merged, table)
        if n_merged or not carried
        else ([], {})
    )
    return commit(
        table,
        add=parts,
        remove=touched,
        operation="apply_changes",
        txn_id=txn_id,
        stats=stats,
        expect_version=(
            snap.version if expect_version is None else expect_version
        ),
    )


def snapshot_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Change-feed read between two versions (Delta's ``table_changes``
    shape, derived purely from the commit log):

    - For a span of append-only commits, the changes are exactly the rows
      in the files ADDED in ``(from_version, to_version]`` — zero compute,
      no old-snapshot scan, the incremental-consumer fast path.
    - If the span contains a rewrite commit (overwrite/upsert/compact),
      file identity no longer maps to row identity; the diff falls back to
      two snapshot reads + a full-row null-safe anti-join per direction,
      so value-only updates surface as delete+insert of the same key.

    The fallback diff is MULTISET-exact: each side is reduced to
    per-row-identity counts and rows are re-emitted |count delta| times,
    so a rewrite that only changes the multiplicity of duplicate rows
    (removes one of two equal rows) emits exactly the lost/gained
    occurrences.  ``key_cols`` does not join — it gates the fallback: a
    rewrite-span diff costs two snapshot scans plus row-identity
    shuffles, and without the parameter the call raises instead of
    silently running the expensive path.

    Returns rows tagged with a ``_change_type`` column (``insert`` /
    ``delete``); updates surface as delete+insert of the same key."""
    snap_to = current_snapshot(table, to_version)
    versions = [
        v for v in _list_versions(table)
        if from_version < v <= snap_to.version
    ]
    ops = []
    added: list[str] = []
    for v in versions:
        with open(_log_path(table, v)) as fh:
            entry = json.load(fh)
        ops.append(entry.get("operation"))
        added.extend(entry.get("add", []))
    rewriting = any(op not in ("append", None) for op in ops)
    if not rewriting:
        live_added = [f for f in added if f in set(snap_to.files)]
        if not live_added:
            base = read_snapshot(spark, table, snap_to.version)
            return base.withColumn(
                "_change_type", F.lit("insert")
            ).filter("1 = 0")
        # mergeSchema mirrors read_snapshot: an appended part may carry
        # evolved columns and the feed must surface them (a single-footer
        # schema would silently drop them, listing-order-dependent)
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table, _DATA_DIR, f) for f in live_added]
        )
        return df.withColumn("_change_type", F.lit("insert"))
    if not key_cols:
        raise ValueError(
            "span contains a rewrite commit; key_cols required for a "
            "row-level diff"
        )
    new = read_snapshot(spark, table, snap_to.version)
    # a from_version before the first commit (or one whose snapshot holds
    # no files) means the old side is EMPTY, not an error: the full-history
    # feed of a rewrite-containing span is every current row as an insert
    if from_version < 0 or not current_snapshot(table, from_version).files:
        # a fresh frame, not new.filter(false): the diff below joins old
        # against new, and two lineages of one plan trip the ambiguous-
        # self-join analyzer
        old = spark.createDataFrame([], new.schema)
    else:
        old = read_snapshot(spark, table, from_version)
    # Multiset diff via per-row-identity counts: group each side by the
    # FULL row (map-side combined — one shuffle of distinct rows per
    # side), full-outer join the count tables null-safely, and re-emit
    # each row |count delta| times tagged insert/delete.  A value-only
    # update's two row versions land in different groups, so it surfaces
    # as delete+insert of the same key, as the docstring promises; a
    # multiplicity-only change surfaces as exactly the lost or gained
    # occurrences.  Cheaper than occurrence-indexing with a window (which
    # would sort every row): counts shrink each side to its distinct rows
    # before any join.
    # align schemas across the span: a column added by schema evolution
    # is null for every pre-evolution row, so old rows diff as if they
    # always carried the null
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(
                c, F.lit(None).cast(new.schema[c].dataType)
            )
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(
                c, F.lit(None).cast(old.schema[c].dataType)
            )
    cols = new.columns
    oc = old.groupBy(*cols).agg(F.count("*").alias("_n_old"))
    nc = new.groupBy(*cols).agg(F.count("*").alias("_n_new"))
    joined = nc.join(
        oc, on=_all_cols_eq(nc, oc, cols), how="full_outer"
    ).select(
        *[F.coalesce(nc[c], oc[c]).alias(c) for c in cols],
        (
            F.coalesce(nc["_n_new"], F.lit(0))
            - F.coalesce(oc["_n_old"], F.lit(0))
        ).alias("_delta"),
    )
    inserted = (
        joined.filter(F.col("_delta") > 0)
        .withColumn("_i", F.explode(F.expr("sequence(1, _delta)")))
        .drop("_i", "_delta")
        .withColumn("_change_type", F.lit("insert"))
    )
    deleted = (
        joined.filter(F.col("_delta") < 0)
        .withColumn("_i", F.explode(F.expr("sequence(1, -_delta)")))
        .drop("_i", "_delta")
        .withColumn("_change_type", F.lit("delete"))
    )
    return inserted.unionByName(deleted)


def _all_cols_eq(left: DataFrame, right: DataFrame, cols: list[str]):
    """AND of null-safe equality over every column — the row-identity
    join condition for snapshot diffs."""
    cond = left[cols[0]].eqNullSafe(right[cols[0]])
    for c in cols[1:]:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond
