"""§3.2 warehouse-upload pipeline end-to-end: dedup → fan-out →
per-table atomic MERGE → completeness counts, across two uploads with
an idempotent replay in between (the reference's upload state machine:
a re-run of a committed upload must be a no-op,
processor.go:2835-3098 / state_update_table_uploads.go)."""

import datetime as dt
import itertools
import os
from collections import Counter

import pytest

from rudder_server_spark.pipeline_warehouse import run_warehouse_upload
from rudder_server_spark.sources import load_commit

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

SCHEMA = (
    "message_id string, user_id long, anonymous_id string, event_type string, "
    "event_name string, received_at timestamp, sent_at timestamp, "
    "original_timestamp timestamp, payload string"
)


def _env(i, etype, name, payload):
    t = T0 + dt.timedelta(seconds=i)
    return (f"msg-{i:06d}", i, f"anon-{i:04d}", etype, name, t, t, t, payload)


def _track(i, price):
    return _env(
        i, "track", "Order Completed",
        '{"type":"track","properties":{"price":%s,"quantity":1},'
        '"context":{"ip":"10.0.0.1"}}' % price,
    )


def test_upload_merge_and_replay(spark, tmp_path):
    wh = str(tmp_path / "wh")
    batch1 = spark.createDataFrame(
        [_track(0, 10.0), _track(1, 11.0), _track(1, 11.0)], SCHEMA
    )  # msg-1 duplicated in-batch -> dedup keeps one
    out1 = run_warehouse_upload(spark, batch1, wh, "up-1")
    assert "tracks" in out1["tables"] and out1["committed"]["tracks"]
    counts1 = {r["table_name"]: r["n"] for r in out1["counts"].collect()}
    assert counts1["tracks"] == 2
    assert counts1["order_completed"] == 2

    # replay of the SAME upload id: every table refuses (idempotent no-op)
    replay = run_warehouse_upload(spark, batch1, wh, "up-1")
    assert not any(replay["committed"].values())
    assert {r["table_name"]: r["n"] for r in replay["counts"].collect()}[
        "tracks"
    ] == 2

    # second upload: one overlapping message (same id -> MERGE replaces,
    # landed count grows by the truly-new row only) + one new row
    batch2 = spark.createDataFrame([_track(1, 99.0), _track(2, 12.0)], SCHEMA)
    out2 = run_warehouse_upload(spark, batch2, wh, "up-2")
    assert out2["committed"]["tracks"]
    counts2 = {r["table_name"]: r["n"] for r in out2["counts"].collect()}
    assert counts2["tracks"] == 3

    # the MERGE kept the latest version of the overlapping row
    live = load_commit.read_table(spark, f"{wh}/tracks")
    price = {r["id"]: r for r in live.collect()}
    assert len(price) == 3

    # crash-safety artifact: previous snapshot versions still on disk
    # until vacuum, pointer names the current one
    assert load_commit.current_version(f"{wh}/tracks") == "up-2"


def _merge_event(i, prop1_value, prop2_value=None):
    import json

    return _env(
        i, "merge", None,
        json.dumps({
            "type": "merge",
            "mergeProperties": [
                {"type": "email", "value": prop1_value},
                {"type": "anonymousId", "value": prop2_value or f"anon-{i:04d}"},
            ],
        }),
    )


def test_bq_index_constraints_route_to_discards(spark, tmp_path):
    """constraint.go wiring (r9 verdict #5): on BQ, a merge rule whose
    type||value concat exceeds 512 bytes keeps its merge-rules row (cell
    swapped to the ViolatedIdentifier) and the original value lands in
    rudder_discards; without destination_type nothing is constrained."""
    wh = str(tmp_path / "whbq")
    long_val = "v" * 600
    batch = spark.createDataFrame(
        [_merge_event(0, long_val), _merge_event(1, "ok@example.com")],
        SCHEMA,
    )
    out = run_warehouse_upload(spark, batch, wh, "up-bq", destination_type="BQ")
    assert "rudder_discards" in out["tables"]
    disc = load_commit.read_table(spark, str(tmp_path / "whbq" / "rudder_discards"))
    rows = disc.collect()
    assert len(rows) == 1
    assert rows[0]["column_name"] == "merge_property_1_value"
    assert rows[0]["column_value"] == long_val
    rules = load_commit.read_table(
        spark, str(tmp_path / "whbq" / "rudder_identity_merge_rules")
    ).collect()
    vals = sorted(r["merge_property_1_value"] for r in rules)
    assert len(rules) == 2
    assert vals[0] == "ok@example.com"
    assert vals[1].startswith("rudder-discards-")

    # same batch, no destination_type: value loads untouched, no discards
    wh2 = str(tmp_path / "whrs")
    out2 = run_warehouse_upload(spark, batch, wh2, "up-rs")
    assert "rudder_discards" not in out2["tables"]
    rules2 = load_commit.read_table(
        spark, str(tmp_path / "whrs" / "rudder_identity_merge_rules")
    ).collect()
    assert sorted(r["merge_property_1_value"] for r in rules2)[1] == long_val

def test_bq_zero_violation_upload_writes_no_discards_table(spark, tmp_path):
    """worker_job.go:592-615 — the discards load file only exists when
    discard rows exist; a clean BQ upload must not commit an empty
    rudder_discards table."""
    wh = str(tmp_path / "whbq_clean")
    batch = spark.createDataFrame(
        [_merge_event(0, "a@example.com"), _merge_event(1, "b@example.com")],
        SCHEMA,
    )
    out = run_warehouse_upload(spark, batch, wh, "up-bq-clean", destination_type="BQ")
    assert "rudder_discards" not in out["tables"]
    assert "rudder_discards" not in out["committed"]
    assert load_commit.read_table(
        spark, str(tmp_path / "whbq_clean" / "rudder_discards")
    ) is None
    # the merge-rules table itself still lands
    rules = load_commit.read_table(
        spark, str(tmp_path / "whbq_clean" / "rudder_identity_merge_rules")
    )
    assert rules.count() == 2


def _landed(spark, wh):
    """{table: Counter of live rows} for every table directory under wh."""
    return {
        t.name: Counter(tuple(r) for r in load_commit.read_table(spark, t.path).collect())
        for t in os.scandir(wh) if t.is_dir()
    }


def test_streaming_and_batch_commit_paths_land_the_same_rows(spark, tmp_path):
    """The transactional streaming sink (one epoch per batch) and the batch
    upload commit through one table-commit path: the same two merge-event
    batches land the same rows in every table. The second batch re-sends a
    rule under a new message id (a MERGE on the full rule keeps one row)
    and links the mapped identifier a@x.io to a new one (mappings MERGE on
    the identifier, not append)."""
    from rudder_server_spark.streaming.pipeline import transactional_warehouse_sink

    batches = [
        [_merge_event(0, "a@x.io"), _merge_event(1, "b@x.io")],
        [_merge_event(2, "a@x.io", "anon-0000"), _merge_event(3, "a@x.io")],
    ]
    stream_wh, batch_wh = str(tmp_path / "stream"), str(tmp_path / "batch")
    sink = transactional_warehouse_sink(stream_wh)
    for epoch, rows in enumerate(batches, start=1):
        df = spark.createDataFrame(rows, SCHEMA)
        sink(df, epoch)
        run_warehouse_upload(spark, df, batch_wh, f"up-{epoch}")

    streamed, uploaded = _landed(spark, stream_wh), _landed(spark, batch_wh)
    assert streamed == uploaded
    assert sum(uploaded["rudder_identity_merge_rules"].values()) == 3
    assert sum(uploaded["rudder_identity_mappings"].values()) == 5


def test_crashed_upload_retries_remaining_tables_then_replays_free(
    spark, tmp_path, monkeypatch
):
    """A crash on the k-th table MERGE leaves the upload open: its retry
    lands the remaining tables and each table's own log refuses the ones
    that already committed. Once every table has landed, a replay is
    answered from the warehouse's log and the footers with no Spark job."""
    wh = str(tmp_path / "wh")
    batch = spark.createDataFrame(
        [_track(0, 10.0), _track(1, 11.0), _merge_event(2, "a@x.io")], SCHEMA
    )
    merge, calls = load_commit.commit_merge, itertools.count(1)

    def crash_on_third(*args, **kwargs):
        if next(calls) == 3:
            raise RuntimeError("crash on the third table")
        return merge(*args, **kwargs)

    monkeypatch.setattr(load_commit, "commit_merge", crash_on_third)
    with pytest.raises(RuntimeError, match="third table"):
        run_warehouse_upload(spark, batch, wh, "up-1")
    monkeypatch.undo()
    landed = {
        t.name for t in os.scandir(wh)
        if t.is_dir() and "up-1" in load_commit.committed_ids(t.path)
    }

    retry = run_warehouse_upload(spark, batch, wh, "up-1")
    assert landed and set(retry["tables"]) - landed
    assert {t for t, c in retry["committed"].items() if not c} == landed
    counts = {r["table_name"]: r["n"] for r in retry["counts"].collect()}
    assert counts["tracks"] == 2

    sc = spark.sparkContext
    sc.setJobGroup("replay-probe", "replay of a committed upload")
    try:
        replay = run_warehouse_upload(spark, batch, wh, "up-1")
        jobs = sc.statusTracker().getJobIdsForGroup("replay-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert replay["tables"] == retry["tables"]
    assert not any(replay["committed"].values())
    assert {r["table_name"]: r["n"] for r in replay["counts"].collect()} == counts
