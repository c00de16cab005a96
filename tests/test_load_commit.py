"""Atomic batch-load commit protocol (S7/J6 batch path): staged snapshots
are invisible until the pointer swap, commits are idempotent per upload id,
merge publishes a new version atomically, vacuum keeps the live version."""

import os

import pyspark.sql.functions as F

from rudder_server_spark.sources.load_commit import (
    commit_merge,
    commit_overwrite,
    current_version,
    read_table,
    vacuum,
)


def test_commit_overwrite_atomic_and_idempotent(spark, tmp_path):
    t = str(tmp_path / "tracks")
    df1 = spark.range(5).withColumnRenamed("id", "n")

    assert read_table(spark, t) is None
    assert commit_overwrite(df1, t, "upload-1") is True
    assert current_version(t) == "upload-1"
    assert read_table(spark, t).count() == 5

    # idempotent retry of the same upload: no-op
    assert commit_overwrite(df1, t, "upload-1") is False

    # a crashed writer: staged files exist but pointer still names upload-1
    df2 = spark.range(99).withColumnRenamed("id", "n")
    df2.write.mode("overwrite").parquet(os.path.join(t, "_versions", "upload-2"))
    assert current_version(t) == "upload-1"
    assert read_table(spark, t).count() == 5  # partial/staged data invisible

    # completing the commit makes it visible
    assert commit_overwrite(df2, t, "upload-2") is True
    assert read_table(spark, t).count() == 99


def test_commit_merge_delete_insert(spark, tmp_path):
    t = str(tmp_path / "users")
    base = spark.createDataFrame(
        [("a", "2024-01-01", "v1"), ("b", "2024-01-01", "v1")],
        "id string, received_at string, val string",
    )
    assert commit_merge(spark, base, t, "up-1") is True

    # staging updates a, inserts c; b survives
    staging = spark.createDataFrame(
        [("a", "2024-02-01", "v2"), ("c", "2024-02-01", "v1")],
        "id string, received_at string, val string",
    )
    assert commit_merge(spark, staging, t, "up-2") is True
    got = {r["id"]: r["val"] for r in read_table(spark, t).collect()}
    assert got == {"a": "v2", "b": "v1", "c": "v1"}

    # idempotent retry
    assert commit_merge(spark, staging, t, "up-2") is False
    assert read_table(spark, t).count() == 3


def test_vacuum_keeps_live(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        commit_overwrite(spark.range(i + 1), t, f"up-{i}")
    dropped = vacuum(t, keep=2)
    assert "up-3" not in dropped  # live version always kept
    left = sorted(os.listdir(os.path.join(t, "_versions")))
    assert "up-3" in left and len(left) == 2
    assert read_table(spark, t).count() == 4


def test_reordered_retry_cannot_regress(spark, tmp_path):
    """A retry of an OLD upload arriving after a newer one has committed
    must be refused — the pointer-only check would regress the table."""
    from rudder_server_spark.sources.load_commit import (
        commit_overwrite,
        current_version,
        read_table,
    )

    d = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1,)], "id long")
    v2 = spark.createDataFrame([(2,)], "id long")
    assert commit_overwrite(v1, d, "u1")
    assert commit_overwrite(v2, d, "u2")
    assert not commit_overwrite(v1, d, "u1")  # reordered retry: no-op
    assert current_version(d) == "u2"
    assert [r["id"] for r in read_table(spark, d).collect()] == [2]


def test_commit_merge_heals_log_after_crash_before_append(spark, tmp_path):
    """A crash between commit_merge's pointer swap and its log append
    leaves the pointer naming A while the log lacks A. The retry of A must
    heal the log, so a late retry of A after B has committed stays refused
    instead of merging A's rows back over B's."""
    t = str(tmp_path / "users")
    schema = "id long, received_at string, val string"
    a = spark.createDataFrame([(1, "2024-01-01", "A-old")], schema)
    b = spark.createDataFrame([(1, "2024-02-01", "B-new")], schema)
    assert commit_merge(spark, a, t, "A") is True
    os.remove(os.path.join(t, "_COMMITTED"))  # the log append never happened

    assert commit_merge(spark, a, t, "A") is False  # retry: already live
    assert commit_merge(spark, b, t, "B") is True
    assert commit_merge(spark, a, t, "A") is False  # late retry: refused
    assert current_version(t) == "B"
    assert [r["val"] for r in read_table(spark, t).collect()] == ["B-new"]


def test_transactional_streaming_sink_epoch_replay(spark, tmp_path):
    """The streaming/batch commit unification: a replayed epoch (same
    epoch_id re-delivered after a crash-before-checkpoint) is a no-op —
    the table advances exactly once per epoch; a later epoch merges on pk
    without duplicating."""
    import json as _json
    import os as _os

    from rudder_server_spark.sources.load_commit import read_table
    from rudder_server_spark.streaming.pipeline import (
        ENVELOPE_SCHEMA,
        transactional_warehouse_sink,
    )

    out = str(tmp_path / "wh")

    def batch(ids, ts="2024-02-01T00:00:05.000Z"):
        rows = [
            {
                "message_id": f"m-{i}", "user_id": i, "anonymous_id": f"a-{i}",
                "event_type": "track", "event_name": "Order Completed",
                "received_at": ts, "sent_at": ts, "original_timestamp": ts,
                "payload": _json.dumps(
                    {"type": "track", "properties": {"price": 1.0 + i},
                     "context": {"ip": f"10.0.0.{i}"}}
                ),
            }
            for i in ids
        ]
        p = tmp_path / f"b{len(ids)}.json"
        with open(p, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        return (
            spark.read.schema(ENVELOPE_SCHEMA).json(str(p))
            .withColumn("received_at", F.col("received_at").cast("timestamp"))
        )

    sink = transactional_warehouse_sink(out)
    b1 = batch([1, 2, 3])
    sink(b1, epoch_id=7)
    tracks = read_table(spark, _os.path.join(out, "tracks"))
    assert tracks.count() == 3

    sink(b1, epoch_id=7)  # replayed epoch -> refused, no double-apply
    assert read_table(spark, _os.path.join(out, "tracks")).count() == 3

    # next epoch: one overlapping id (merge, not append) + one new
    sink(batch([3, 4]), epoch_id=8)
    t2 = read_table(spark, _os.path.join(out, "tracks"))
    assert t2.count() == 4
    assert t2.select("id").distinct().count() == 4


def test_run_source_job_delete_sweep(spark, tmp_path):
    """Warehouse-as-source back-job (worker.go:540-618 runSourceJob →
    DeleteBy, postgres.go:271-305): stale rows of the job's source —
    wrong job run AND wrong task run, received before start — purge;
    other sources, the current run, and NULL-lineage rows survive.
    Redelivered claims (same job id) are no-ops."""
    import datetime

    import pytest

    from rudder_server_spark.operators.source_jobs import run_source_job

    t0 = datetime.datetime(2024, 1, 10)
    rows = [
        # (source, job_run, task_run, received) — stale: purged
        ("src-A", "jr-old", "tr-old", datetime.datetime(2024, 1, 5)),
        # current job run: kept even though received before start
        ("src-A", "jr-new", "tr-old", datetime.datetime(2024, 1, 5)),
        # current task run: kept (predicate requires BOTH runs stale)
        ("src-A", "jr-old", "tr-new", datetime.datetime(2024, 1, 5)),
        # received after start: kept
        ("src-A", "jr-old", "tr-old", datetime.datetime(2024, 1, 15)),
        # different source: untouched
        ("src-B", "jr-old", "tr-old", datetime.datetime(2024, 1, 5)),
        # NULL lineage: kept (SQL DELETE only fires on TRUE)
        ("src-A", None, None, datetime.datetime(2024, 1, 5)),
    ]
    df = spark.createDataFrame(
        rows,
        "context_source_id string, context_sources_job_run_id string, "
        "context_sources_task_run_id string, received_at timestamp",
    )
    wh = str(tmp_path / "wh")
    from rudder_server_spark.sources.load_commit import commit_overwrite, read_table

    commit_overwrite(df, os.path.join(wh, "tracks"), "seed")
    job = {
        "job_id": "sj-1",
        "async_job_type": "deletebyjobrunid",
        "source_id": "src-A",
        "job_run_id": "jr-new",
        "task_run_id": "tr-new",
        "start_time": t0,
    }
    deleted = run_source_job(spark, wh, ["tracks", "absent_table"], job)
    assert deleted == {"tracks": 1}
    kept = read_table(spark, os.path.join(wh, "tracks"))
    assert kept.count() == 5
    assert (
        kept.where(F.col("context_sources_job_run_id") == "jr-old")
        .where(F.col("context_sources_task_run_id") == "tr-old")
        .where(F.col("received_at") < F.lit(t0))
        .where(F.col("context_source_id") == "src-A")
        .count()
        == 0
    )
    # redelivered claim: idempotent, nothing more deleted
    assert run_source_job(spark, wh, ["tracks"], job) == {"tracks": 0}
    # unknown job type rejected (worker.go:615 invalid sourceJob type)
    with pytest.raises(ValueError):
        run_source_job(spark, wh, ["tracks"], {**job, "async_job_type": "sync"})
