"""Atomic batch-load commit protocol for parquet tables (reference S7/J6).

The reference loads warehouse tables inside a database transaction (jobsdb
txn-scoped store, processor/processor.go:2835-3098; snowflake MERGE INTO,
snowflake.go:460-520), so a crashed upload never leaves a half-visible
table. Plain ``df.write.mode("overwrite")`` has no such story: a reader
racing the overwrite sees partial files, and a crashed writer leaves a
corrupt table.

This module gives the parquet path the same guarantee with the classic
write-new-then-swap-pointer protocol (the file-level essence of Delta's
transaction log, without the Delta jar this environment lacks):

  table_dir/
    _CURRENT              <- tiny pointer file naming the live version
    _COMMITTED            <- append-only log of every committed upload id
    _versions/<upload_id>/  <- immutable parquet snapshots
      _schema.json        <- the snapshot's Spark schema

- ``commit_overwrite`` stages the new snapshot under ``_versions/<id>``,
  stores its schema beside the data and atomically ``os.replace``s the
  ``_CURRENT`` pointer. Readers resolve the pointer first, so they always
  see exactly one complete snapshot, and read it with the stored schema
  instead of a schema-inference job (parquet readers skip ``_`` files).
- A crashed writer leaves an orphan staged directory that is never visible
  (and is reclaimed by ``vacuum``).
- Commits are idempotent per ``upload_id`` (the reference's upload ids):
  re-running a completed upload is a no-op, so a retried batch job cannot
  double-apply — the batch-path analogue of the streaming checkpoint's
  effectively-once.

Object stores without atomic rename would use a conditional PUT of
``_CURRENT`` instead; the protocol shape is identical.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_POINTER = "_CURRENT"
_VERSIONS = "_versions"
_COMMITTED = "_COMMITTED"
_SCHEMA = "_schema.json"


def committed_ids(table_dir: str) -> set[str]:
    """Every upload id that has ever committed (the append-only log)."""
    try:
        with open(os.path.join(table_dir, _COMMITTED)) as fh:
            return {ln.strip() for ln in fh if ln.strip()}
    except FileNotFoundError:
        return set()


def record_commit(table_dir: str, upload_id: str) -> None:
    """Append ``upload_id`` to the directory's ``_COMMITTED`` log."""
    with open(os.path.join(table_dir, _COMMITTED), "a") as fh:
        fh.write(upload_id + "\n")
        fh.flush()
        os.fsync(fh.fileno())


def refused(table_dir: str, upload_id: str) -> bool:
    """True when ``upload_id`` already committed here (idempotent retry).

    Checked against the append-only ``_COMMITTED`` log, not just the live
    pointer: a retry of upload A arriving AFTER upload B has committed
    must be a no-op, not a regression of the table to A. (The pointer
    check alone would re-commit A — the reordered-retry hazard.) A pointer
    that names the id while the log lacks it means the crash hit between
    the pointer swap and the log append — heal the log so the id stays
    refused after later uploads move on.
    """
    if upload_id in committed_ids(table_dir):
        return True
    if current_version(table_dir) == upload_id:
        record_commit(table_dir, upload_id)
        return True
    return False


def current_version(table_dir: str) -> str | None:
    """The live snapshot's upload id, or None for an empty table."""
    try:
        with open(os.path.join(table_dir, _POINTER)) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Resolve the pointer and read the live snapshot (None if no commit
    has ever succeeded — staged-but-uncommitted data is invisible)."""
    v = current_version(table_dir)
    if v is None:
        return None
    path = os.path.join(table_dir, _VERSIONS, v)
    try:
        with open(os.path.join(path, _SCHEMA)) as fh:
            schema = StructType.fromJson(json.load(fh))
    except FileNotFoundError:  # a snapshot written before schemas were stored
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable — the
    schema Spark's parquet writer stores and its reader infers back."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def footer_rows(parquet_dir: str) -> int:
    """Rows in a directory of parquet files, summed from their footers —
    commit metadata, not data: no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(parquet_dir, f)).metadata.num_rows
        for f in os.listdir(parquet_dir)
        if f.endswith(".parquet")
    )


def row_count(table_dir: str) -> int:
    """Rows in the live snapshot, from its footers (0 for an empty table)."""
    v = current_version(table_dir)
    return 0 if v is None else footer_rows(os.path.join(table_dir, _VERSIONS, v))


def _write_synced(path: str, text: str) -> None:
    with open(path, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())


def commit_overwrite(df: DataFrame, table_dir: str, upload_id: str) -> bool:
    """Publish ``df`` as the table's new contents, atomically.

    Returns True if this call performed the commit, False if ``upload_id``
    was already committed (``refused``). The snapshot and its schema file
    are fully written before the pointer moves; a crash at any point
    leaves the previous version live.
    """
    if refused(table_dir, upload_id):
        return False
    staged = os.path.join(table_dir, _VERSIONS, upload_id)
    df.write.mode("overwrite").parquet(staged)
    _write_synced(os.path.join(staged, _SCHEMA), _nullable(df.schema).json())
    tmp = os.path.join(table_dir, _POINTER + ".tmp")
    _write_synced(tmp, upload_id)
    os.replace(tmp, os.path.join(table_dir, _POINTER))  # the commit point
    record_commit(table_dir, upload_id)
    return True


def commit_merge(
    spark: SparkSession,
    staging: DataFrame,
    table_dir: str,
    upload_id: str,
    pk: tuple = ("id",),
    order_col: str = "received_at",
) -> bool:
    """J6 delete+insert as an atomic version swap: merge the staging frame
    into the live snapshot (operators/load.merge_into semantics) and
    publish the result under ``upload_id``. Idempotent per upload id.
    The write reads the live snapshot directly: ``refused`` guarantees
    ``upload_id`` is not live, so ``_versions/<upload_id>`` is never the
    directory being read."""
    from rudder_server_spark.operators.load import merge_into

    if refused(table_dir, upload_id):
        return False
    merged = merge_into(read_table(spark, table_dir), staging, pk, order_col)
    return commit_overwrite(merged, table_dir, upload_id)


def vacuum(table_dir: str, keep: int = 2) -> list[str]:
    """Drop all but the ``keep`` most recent snapshots (never the live one).
    Orphans from crashed writers age out here too — the reference's
    dataset-compaction/cleanup analogue (jobsdb_compaction.go)."""
    vdir = os.path.join(table_dir, _VERSIONS)
    if not os.path.isdir(vdir):
        return []
    live = current_version(table_dir)
    versions = sorted(os.listdir(vdir), key=lambda v: os.path.getmtime(os.path.join(vdir, v)))
    drop = [v for v in versions[:-keep] if v != live] if keep else [
        v for v in versions if v != live
    ]
    for v in drop:
        shutil.rmtree(os.path.join(vdir, v), ignore_errors=True)
    return drop
