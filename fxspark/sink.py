"""Sinks (SURVEY.md §2.1 S4-S8): keyed upsert, table persistence, report.

The reference upserts via MySQL ``ON DUPLICATE KEY UPDATE`` in 1000-row
chunks (``/root/reference/Fx_1min.py:93-125``) or insert-if-absent with
duplicate-key errors swallowed (``update_exchange_rates.py:79-108``). The
engine's equivalents:

- ``upsert``        — last-writer-wins merge (v2 semantics)
- ``insert_absent`` — keep-existing merge (v1 semantics)

Both are pure DataFrame plans. ``upsert``'s merge cost follows the batch,
as ``ON DUPLICATE KEY UPDATE``'s does: store rows whose key the batch does
not touch pass through a broadcast anti join on the batch's keys, and only
the touched store rows plus the batch go through the keyed argmax (one
shuffle, sorted on both sides — ``ops/latest.py``). On a lakehouse
deployment (Delta/Iceberg, not bundled here) the same semantics map to
``MERGE INTO``, which touches only matched files instead of rewriting the
table; this module implements the portable parquet forms — full-rewrite
``upsert`` and partition-granular ``upsert_partitioned`` — which double as
the semantics oracle for any such deployment.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxspark.ops.latest import dedup_latest


def upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Last-writer-wins keyed merge (S5, ``Fx_1min.py:106-109``):
    ``ON DUPLICATE KEY UPDATE`` ≡ keep the greatest ``order_by`` row per key
    of ``existing ∪ incoming``. Idempotent by construction.

    Precondition: ``existing`` is key-unique and has no NULL ``order_by``
    value — true of every table ``upsert`` wrote, since ``dedup_latest``
    output is. Under it the result equals ``dedup_latest(existing ∪
    incoming)`` (up to the choice among rows tied on ``order_by``) while
    only the keys the batch touches are sorted:

    - the batch's keys are broadcast once;
    - store rows with an untouched key pass straight through a
      null-safe left-anti join, coalesced to at most the default
      parallelism so the output's file count stays bounded tick after tick;
    - the touched store rows (left-semi join) plus the batch go through
      ``dedup_latest``.

    Columns come out in ``dedup_latest``'s order: keys, then the other
    columns of ``existing``. ``incoming`` is read by both the key broadcast
    and the merge; persist it first if it is costly to recompute."""
    keys, order_by = list(keys), list(order_by)
    if existing is None:
        return dedup_latest(incoming, keys, order_by)
    probe = [f"__upsert_key{i}" for i in range(len(keys))]
    touched_keys = F.broadcast(
        incoming.select(*[F.col(k).alias(p) for k, p in zip(keys, probe)])
    )
    on = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(p)) for k, p in zip(keys, probe)],
    )
    touched = existing.join(touched_keys, on, "left_semi")
    merged = dedup_latest(touched.unionByName(incoming), keys, order_by)
    width = existing.sparkSession.sparkContext.defaultParallelism
    untouched = existing.join(touched_keys, on, "left_anti").coalesce(width)
    return untouched.select(*merged.columns).unionByName(merged)


def insert_absent(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Insert-if-absent merge (S6, ``update_exchange_rates.py:101-102``):
    existing rows win; incoming rows join only for unseen keys (and
    first-arrival wins among duplicate incoming keys)."""
    deduped_in = incoming.dropDuplicates(list(keys))
    if existing is None:
        return deduped_in
    fresh = deduped_in.join(existing.select(*keys), on=list(keys), how="left_anti")
    return existing.unionByName(fresh)


def write_table(df: DataFrame, path: str, format: str = "parquet") -> None:
    """Persist a (re)merged table atomically: write to a temp dir, then
    swap. (At lakehouse scale this whole read-merge-rewrite becomes a Delta
    ``MERGE INTO`` — S4's ``CREATE TABLE IF NOT EXISTS`` analog is the
    table's first write.)

    ``format``: any DataFrameWriter format — parquet (default; columnar,
    statistics, pushdown), orc (same class, ORC stack), json/csv (textual
    interchange; no pushdown, schema must be re-declared on read — the
    round-trip tests pin exactly what survives each format)."""
    parent = os.path.dirname(os.path.abspath(path))
    tmp = tempfile.mkdtemp(dir=parent, prefix="._staging_")
    staged = os.path.join(tmp, "data")
    w = df.write.mode("overwrite")
    if format == "csv":
        w = w.option("header", True)
    w.format(format).save(staged)
    old = path + ".old"
    # clear residue from a crashed prior swap, else rename onto a non-empty
    # dir fails (ENOTEMPTY) and no rewrite of this path can ever succeed
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Persist hive-partitioned parquet (one directory per partition value).
    Time-partitioning the event store is what turns the reference's
    every-run full scans (global MAX, cutoff filters — ``Fx_1min.py:156,186``)
    into partition-pruned reads: a filter on the partition column skips
    whole directories at planning time (tests assert the pruning)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a BUCKETED catalog table: rows are hash-partitioned into
    ``n_buckets`` files by ``bucket_cols`` at write time, so any later
    equi-join or aggregation on those columns reads co-located data and
    plans WITHOUT a shuffle (the Exchange disappears — tests assert it).

    This is the 100 TB answer to the reference's repeated per-run analysis
    over the same keyed store: pay the partitioning once at ingest, never
    per query. Choose ``n_buckets`` ≈ cluster cores at the target scale;
    both sides of a co-located join must agree on it.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the persisted table; None if it doesn't exist yet (first tick)."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def console_report(df: DataFrame, columns: Sequence[str], widths: Sequence[int]) -> str:
    """Fixed-width console report (S7, ``Fx_1min.py:222-228``): header rule +
    one formatted line per row. Driver-side by design — reports are bounded
    (one row per key); this is the only ``collect()`` in the engine."""
    header = "".join(c.ljust(w) for c, w in zip(columns, widths))
    rule = "-" * sum(widths)
    lines = [header, rule]
    for row in df.select(*columns).collect():
        lines.append(
            "".join(str(row[c] if row[c] is not None else "").ljust(w)
                    for c, w in zip(columns, widths))
        )
    return "\n".join(lines)


def append_run_log(log_path: str, record: dict) -> None:
    """Structured run-log sink (S8): one JSON line per tick, appended.

    The reference captures each scheduled run by redirecting stdout/stderr
    to a log file (``run_update_1min.bat:13,16``); the engine's form is a
    structured append — one machine-parseable record per tick (metrics,
    check counts, timing) instead of captured console text, so a fleet of
    schedulers can tail/aggregate it. Driver-side by design: exactly one
    bounded line per tick, the same cardinality as the reference's log."""
    import json

    parent = os.path.dirname(os.path.abspath(log_path))
    os.makedirs(parent, exist_ok=True)
    with open(log_path, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record, sort_keys=True, default=str) + "\n")


def compact(spark, path: str, target_mb: int = 128) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ⌈bytes / target_mb⌉ files (the lakehouse OPTIMIZE primitive — streaming
    upserts and per-trigger micro-batches accumulate small files that
    degrade scan planning at scale). Returns the new file count.

    Staging and the swap are delegated to ``write_table`` (unique mkdtemp
    staging dir, stale-state-tolerant cleanup). The two-rename swap is
    best-effort, not atomic — a reader racing the swap can see a missing
    path for an instant, and a crash between renames leaves the data at
    ``path + '.old'``; real table formats (Delta/Iceberg) solve this with
    metadata commits, which is exactly what this operator becomes there
    (OPTIMIZE). Idempotent re-runs: write_table clears leftover ``.old``."""
    import os

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // (target_mb * 1024 * 1024)))
    write_table(df.repartition(n), path)
    return n


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    partition_col: str,
) -> list:
    """Partition-pruned last-writer-wins upsert into a hive-partitioned
    parquet store: merge ONLY the partitions the incoming batch touches and
    rewrite only those directories (dynamic partition overwrite) — the
    incremental-ingest shape that makes keyed upserts affordable at 100 TB,
    where the full-table ``upsert`` rewrite is the scale-killer.

    Steps: (1) distinct partition values of the batch (tiny — a micro-batch
    touches few partitions); (2) read the store pruned to those values (the
    filter prunes DIRECTORIES at planning time, nothing else is read);
    (3) keyed merge; (4) ``partitionOverwriteMode=dynamic`` overwrite, which
    replaces exactly the written partitions and leaves the rest untouched.
    Returns the touched partition values.

    Delta/Iceberg ``MERGE INTO`` subsumes steps 2-4 with file-level instead
    of partition-level granularity; this is the portable parquet form with
    the same pruning discipline. The batch must contain ``partition_col``.
    """
    touched = [
        r[0] for r in incoming.select(partition_col).distinct().collect()
    ]
    if not touched:
        return touched
    # Hive partition values are directory-name strings; left to inference the
    # read-back type drifts from the batch's ("2024-01-01" → DATE) and every
    # later tick merges mismatched schemas. Pin inference off, then cast the
    # store to the batch's exact schema so non-string partition keys round-trip.
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    if os.path.exists(path):
        current = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(touched))
            .select(
                *[F.col(f.name).cast(f.dataType) for f in incoming.schema.fields]
            )
        )
        merged = upsert(current, incoming, keys, order_by)
    else:
        merged = dedup_latest(incoming, list(keys), list(order_by))
    # The merged plan still READS `path`; materialize before overwriting the
    # same directories or a task retry mid-commit could re-read truncated
    # input. Per-write option (not a session-global flip) keeps concurrent
    # writers on this session safe.
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return touched


# ---------------------------------------------------------------------------
# Versioned snapshots (time travel). Delta/Iceberg implement this with file
# manifests + MERGE on a lakehouse deployment (see write_table's note); this
# is the dependency-free filesystem form: every write is a NEW immutable
# generation directory, a pointer file names the current one, and readers
# can open any retained generation. Writers never mutate a directory a
# reader could be scanning — the pointer flip (os.replace) is the only
# commit point, and it is atomic.
# ---------------------------------------------------------------------------

_LATEST = "_LATEST"


def table_versions(path: str) -> list[int]:
    """Retained generation numbers, ascending."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(path)
        if d.startswith("v") and d[1:].isdigit()
    )


def write_versioned(
    df: DataFrame, path: str, format: str = "parquet", keep: int = 3
) -> int:
    """Commit ``df`` as the next generation of the table at ``path``;
    returns the new version number.

    Write order is crash-safe: (1) stage the full generation directory,
    (2) atomically flip the ``_LATEST`` pointer, (3) prune generations
    beyond the newest ``keep`` — a crash before (2) leaves an orphan
    directory (ignored and overwritten later), a crash after (2) only
    delays pruning. ``keep`` >= 2 guarantees a reader that resolved the
    pointer just before a commit can still finish scanning its generation.
    """
    os.makedirs(path, exist_ok=True)
    versions = table_versions(path)
    new_v = (versions[-1] + 1) if versions else 1
    gen = os.path.join(path, f"v{new_v:06d}")
    shutil.rmtree(gen, ignore_errors=True)  # orphan from a crashed commit
    w = df.write.mode("overwrite")
    if format == "csv":
        w = w.option("header", True)
    w.format(format).save(gen)
    tmp = os.path.join(path, _LATEST + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(new_v))
    os.replace(tmp, os.path.join(path, _LATEST))  # the commit point
    for v in table_versions(path)[:-keep]:
        shutil.rmtree(os.path.join(path, f"v{v:06d}"), ignore_errors=True)
    return new_v


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    format: str = "parquet",
) -> DataFrame | None:
    """Read a table generation: the pointer's (current) one by default, or
    an explicit retained ``version`` (time travel). None if the table (or
    the requested generation) doesn't exist."""
    ptr = os.path.join(path, _LATEST)
    if version is None:
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            version = int(fh.read().strip())
    gen = os.path.join(path, f"v{version:06d}")
    if not os.path.isdir(gen):
        return None
    r = spark.read
    if format == "csv":
        r = r.option("header", True).option("inferSchema", True)
    return r.format(format).load(gen)
