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


def test_commit_merge_into_live_table_persists_nothing(spark, tmp_path):
    """A MERGE into a live table is a read and a write: it leaves no
    persisted RDD (a checkpoint would hold a copy of the whole merged
    table in block storage until JVM GC)."""
    t = str(tmp_path / "users")
    schema = "id string, received_at string, val string"
    base = spark.createDataFrame([("a", "2024-01-01", "v1")], schema)
    assert commit_merge(spark, base, t, "up-1") is True
    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    staging = spark.createDataFrame([("b", "2024-02-01", "v1")], schema)
    assert commit_merge(spark, staging, t, "up-2") is True
    assert stored() - before == set()
    assert read_table(spark, t).count() == 2


def test_commit_merge_crash_mid_write_keeps_live_version(spark, tmp_path):
    """A MERGE whose write fails part-way raises, leaves the previous
    version live and the upload id uncommitted; a retry of the same id
    with good staging then commits."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from rudder_server_spark.sources.load_commit import committed_ids

    t = str(tmp_path / "users")
    schema = "id string, received_at string, val string"
    base = spark.createDataFrame(
        [("a", "2024-01-01", "v1"), ("b", "2024-01-01", "v1")], schema
    )
    assert commit_merge(spark, base, t, "up-1") is True
    good = spark.createDataFrame(
        [("a", "2024-02-01", "v2"), ("c", "2024-02-01", "v1")], schema
    )
    bad = good.withColumn(
        "val",
        F.when(F.col("id") == "c", F.raise_error(F.lit("crash mid-merge")))
        .otherwise(F.col("val")),
    )
    with pytest.raises(SparkRuntimeException, match="crash mid-merge"):
        commit_merge(spark, bad, t, "up-2")
    assert current_version(t) == "up-1"
    assert "up-2" not in committed_ids(t)
    rows = {r["id"]: r["val"] for r in read_table(spark, t).collect()}
    assert rows == {"a": "v1", "b": "v1"}

    assert commit_merge(spark, good, t, "up-2") is True
    assert current_version(t) == "up-2"
    rows = {r["id"]: r["val"] for r in read_table(spark, t).collect()}
    assert rows == {"a": "v2", "b": "v1", "c": "v1"}


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


def _schemas_match_inference(spark, table_dir):
    """The snapshot's stored schema, and read_table's, against Spark's own
    inference over the live version directory."""
    import json as _json

    from pyspark.sql.types import StructType

    v = os.path.join(table_dir, "_versions", current_version(table_dir))
    with open(os.path.join(v, "_schema.json")) as fh:
        stored = StructType.fromJson(_json.load(fh))
    inferred = spark.read.parquet(v).schema
    return stored == inferred and read_table(spark, table_dir).schema == inferred


def test_snapshot_schema_file_matches_parquet_inference(spark, tmp_path):
    """Each snapshot stores its Spark schema, and read_table reads with it
    instead of inferring: for every table of a BQ upload of the benchmark's
    warehouse mix (10 tables plus rudder_discards) and for a frame of
    nested, non-nullable and timestamp_ntz columns, the stored schema is
    the one Spark infers from the parquet files."""
    import datetime
    import json as _json

    from cdpbench import gen
    from rudder_server_spark.pipeline_warehouse import run_warehouse_upload
    from rudder_server_spark.streaming.pipeline import ENVELOPE_SCHEMA

    lines = gen.json_lines(gen.EventSource(1301, gen.WAREHOUSE_MIX).batch(400, 60))
    long_rule = {"type": "merge", "mergeProperties": [
        {"type": "email", "value": "v" * 600}, {"type": "anonymousId", "value": "anon-x"}]}
    ts = "2024-02-01T00:00:05.000Z"
    lines.append(_json.dumps({
        "message_id": "long-rule", "user_id": 1, "anonymous_id": "anon-x",
        "event_type": "merge", "received_at": ts, "sent_at": ts,
        "original_timestamp": ts, "payload": _json.dumps(long_rule),
    }))
    staging = tmp_path / "staging.json"
    staging.write_text("\n".join(lines) + "\n")
    wh = str(tmp_path / "wh")
    events = spark.read.schema(ENVELOPE_SCHEMA).json(str(staging))
    out = run_warehouse_upload(spark, events, wh, "up-1", destination_type="BQ")
    assert len(out["tables"]) == 11 and "rudder_discards" in out["tables"]
    for name in out["tables"]:
        assert _schemas_match_inference(spark, os.path.join(wh, name)), name

    nested = spark.createDataFrame(
        [(1, {"a": 1, "b": ["x", None]}, [{"k": 1}], {"m": [1, 2]},
          datetime.datetime(2024, 1, 1, 12, 0))],
        "n long not null, s struct<a: int not null, b: array<string>>, "
        "arr array<struct<k: int>> not null, m map<string, array<int>>, t timestamp_ntz",
    ).withColumn("d", F.lit(1.5).cast("decimal(10,2)"))
    t = str(tmp_path / "nested")
    assert commit_overwrite(nested, t, "up-1") is True
    assert _schemas_match_inference(spark, t)
    assert read_table(spark, t).collect() == nested.collect()


def _read_jobs(spark, table_dir):
    """Spark jobs that resolving and reading the live snapshot runs."""
    sc = spark.sparkContext
    sc.setJobGroup("read-probe", "read_table")
    try:
        read_table(spark, table_dir)
        return len(sc.statusTracker().getJobIdsForGroup("read-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_snapshot_without_schema_file_still_reads(spark, tmp_path):
    """A version directory written without the schema file reads by
    inference; footer_rows and vacuum ignore the file."""
    from rudder_server_spark.sources.load_commit import footer_rows, row_count

    t = str(tmp_path / "t")
    for i in range(3):
        commit_overwrite(spark.range(i + 5).withColumn("s", F.lit("x")), t, f"up-{i}")
    live = os.path.join(t, "_versions", "up-2")
    assert footer_rows(live) == row_count(t) == 7
    assert _read_jobs(spark, t) == 0  # the stored schema: no inference job
    os.remove(os.path.join(live, "_schema.json"))
    assert _read_jobs(spark, t) > 0
    assert read_table(spark, t).count() == 7
    assert read_table(spark, t).columns == ["id", "s"]

    assert vacuum(t, keep=1) == ["up-0", "up-1"]
    assert sorted(os.listdir(os.path.join(t, "_versions"))) == ["up-2"]
