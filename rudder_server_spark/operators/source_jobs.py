"""Warehouse-as-source back-jobs — the retl delete/sync runner (§3.3).

The reference's warehouse slave claims "source jobs" from the notifier
queue and runs them against the destination warehouse
(warehouse/slave/worker.go:540-618 processClaimedSourceJob/runSourceJob;
job spec = warehouse/source/types.go insertJobRequest:
{source_id, destination_id, start_time, job_run_id, task_run_id,
async_job_type, workspace_id}). The only shipped job type is
``deletebyjobrunid`` (warehouse/internal/model/source.go:19), whose
per-warehouse implementation deletes STALE rows of one source — rows
that do NOT belong to the current job/task run and arrived before the
run started (warehouse/integrations/postgres/postgres.go:271-305):

    DELETE FROM <table> WHERE
      context_sources_job_run_id  <> :job_run_id  AND
      context_sources_task_run_id <> :task_run_id AND
      context_source_id            = :source_id   AND
      received_at                  < :start_time

Spark shape: the delete predicate is a pure column filter (pushed to the
parquet scan — at 100 TB only the affected source's row groups decode),
and the "transaction" is the load_commit pointer-swap snapshot: the
retained frame commits as a new immutable version, so a crashed sweep
never leaves a half-deleted table and re-running the same job id is a
no-op (idempotent claim retries, like the reference's notifier redelivery).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

SOURCE_JOB_TYPE_DELETE = "deletebyjobrunid"


def stale_row_predicate(
    source_id: str,
    job_run_id: str,
    task_run_id: str,
    start_time,
    source_col: str = "context_source_id",
    job_run_col: str = "context_sources_job_run_id",
    task_run_col: str = "context_sources_task_run_id",
    received_col: str = "received_at",
) -> Column:
    """True for rows the DeleteBy sweep purges (postgres.go:271-305)."""
    return (
        (F.col(source_col) == source_id)
        & (F.col(job_run_col) != job_run_id)
        & (F.col(task_run_col) != task_run_id)
        & (F.col(received_col) < F.lit(start_time))
    )


def delete_by_job_run(
    df: DataFrame,
    source_id: str,
    job_run_id: str,
    task_run_id: str,
    start_time,
    **cols,
) -> DataFrame:
    """Retained rows after a ``deletebyjobrunid`` sweep (the survivors).

    NULL-safe like SQL DELETE: a row only deletes when the predicate is
    TRUE, so rows with NULL run ids / received_at are retained — matching
    the reference's warehouse DELETE semantics.
    """
    pred = stale_row_predicate(source_id, job_run_id, task_run_id, start_time, **cols)
    return df.where(~F.coalesce(pred, F.lit(False)))


def sweep_audit(
    df: DataFrame,
    table_col: str,
    source_id: str,
    job_run_id: str,
    task_run_id: str,
    start_time,
    **cols,
) -> DataFrame:
    """Per-table (deleted, retained) counts for a sweep — the rsources
    stats the reference reports per job run (services/rsources). ONE
    conditional aggregate over one scan; group count is bounded by the
    warehouse's table vocabulary."""
    pred = stale_row_predicate(source_id, job_run_id, task_run_id, start_time, **cols)
    d = F.coalesce(pred, F.lit(False))
    return (
        df.groupBy(F.col(table_col).alias("table_name"))
        .agg(
            F.sum(F.when(d, 1).otherwise(0)).alias("deleted"),
            F.sum(F.when(d, 0).otherwise(1)).alias("retained"),
        )
        .orderBy("table_name")
    )


def run_source_job(
    spark: SparkSession,
    warehouse_dir: str,
    tables: list[str],
    job: dict,
) -> dict[str, int]:
    """Execute one claimed source job against pointer-swap warehouse tables.

    ``job`` mirrors source/types.go insertJobRequest:
    {"job_id", "async_job_type", "source_id", "job_run_id",
    "task_run_id", "start_time"}. Each table lives at
    ``<warehouse_dir>/<table>`` in load_commit layout; the sweep commits
    the retained frame as version ``srcjob-<job_id>`` — idempotent per
    job id, so a redelivered claim re-commits nothing.

    Returns {table: deleted_row_count}. Ref: worker.go:540-618.
    """
    import os

    from rudder_server_spark.sources.load_commit import commit_overwrite, read_table, row_count

    job_type = job.get("async_job_type", SOURCE_JOB_TYPE_DELETE)
    if job_type != SOURCE_JOB_TYPE_DELETE:
        raise ValueError(f"invalid sourceJob type: {job_type}")  # worker.go:615
    deleted: dict[str, int] = {}
    for t in tables:
        tdir = os.path.join(warehouse_dir, t)
        cur = read_table(spark, tdir)
        if cur is None:
            continue
        kept = delete_by_job_run(
            cur,
            job["source_id"],
            job["job_run_id"],
            job["task_run_id"],
            job["start_time"],
        )
        # landed counts from the snapshots' footers, not count jobs
        before = row_count(tdir)
        committed = commit_overwrite(kept, tdir, f"srcjob-{job['job_id']}")
        deleted[t] = before - row_count(tdir) if committed else 0
    return deleted
