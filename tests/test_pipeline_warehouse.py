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
from pyspark.sql import DataFrame

from rudder_server_spark.functions.localframe import local_frame
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


def test_upload_runs_the_batch_once(spark, tmp_path):
    """Every table of an upload reads one materialized batch: the staging
    payload column is evaluated once per input row, not once per Spark
    action (schema discovery, the promotion vote, the event-name listing
    and each table write used to re-run the scan and the dedup)."""
    import pyspark.sql.functions as F

    rows = []
    for i in range(10):
        rows.append(_track(4 * i, 10.0 + i))
        rows.append(_env(
            4 * i + 1, "identify", None,
            '{"type":"identify","traits":{"email":"u%d@x.io","age":%d}}' % (i, 20 + i),
        ))
        rows.append(_merge_event(4 * i + 2, f"u{i}@x.io"))
        rows.append(_env(
            4 * i + 3, "page", None,
            '{"type":"page","name":"Home","properties":{"url":"https://x.io/%d"}}' % i,
        ))
    evaluations = spark.sparkContext.accumulator(0)

    def counted(payload):
        evaluations.add(1)
        return payload

    events = spark.createDataFrame(rows, SCHEMA).withColumn(
        "payload", F.udf(counted, "string")("payload")
    )
    out = run_warehouse_upload(spark, events, str(tmp_path / "wh"), "up-1")
    counts = {r["table_name"]: r["n"] for r in out["counts"].collect()}
    assert counts["tracks"] == counts["identifies"] == counts["pages"] == 10
    assert counts["rudder_identity_merge_rules"] == 10
    assert evaluations.value == len(rows)


def test_generated_message_id_is_the_same_in_every_table(spark, tmp_path):
    """An empty message_id is replaced by a random uuid (P4); `tracks` and
    the event's own table land the same generated id."""
    wh = str(tmp_path / "wh")
    row = ("",) + _track(0, 10.0)[1:]
    run_warehouse_upload(spark, spark.createDataFrame([row], SCHEMA), wh, "up-1")
    ids = {
        t: [r["id"] for r in load_commit.read_table(spark, f"{wh}/{t}").collect()]
        for t in ("tracks", "order_completed")
    }
    assert len(ids["tracks"]) == 1 and ids["tracks"][0]
    assert ids["order_completed"] == ids["tracks"]


def test_empty_message_ids_are_filled_before_dedup(spark, tmp_path):
    """Ids are filled before dedup (P4 then F1, as the gateway fills them
    before the processor dedups): two track events with an empty
    message_id each get their own uuid, so all three events land instead
    of the two empty ids collapsing onto one dedup key."""
    wh = str(tmp_path / "wh")
    rows = [("",) + _track(0, 10.0)[1:], ("",) + _track(1, 11.0)[1:], _track(2, 12.0)]
    run_warehouse_upload(spark, spark.createDataFrame(rows, SCHEMA), wh, "up-1")
    ids = [r["id"] for r in load_commit.read_table(spark, f"{wh}/tracks").collect()]
    assert len(ids) == 3
    assert len(set(ids)) == 3 and all(ids)


def _identify(i, user_id, traits):
    import json

    row = _env(i, "identify", None, json.dumps({"type": "identify", "traits": traits}))
    return row[:1] + (user_id,) + row[2:]


def _user_row(spark, wh):
    rows = load_commit.read_table(spark, f"{wh}/users").collect()
    assert len(rows) == 1
    return rows[0]["email"], rows[0]["plan"]


def test_later_upload_keeps_users_traits_it_does_not_carry(spark, tmp_path):
    """J3: the users load folds the live row into the upload's, so a trait
    the second upload does not carry keeps its live value — the same row
    the two identifies land in one upload."""
    first = [_identify(0, 7, {"email": "a@x", "plan": "free"})]
    second = [_identify(1, 7, {"plan": "pro"})]
    wh = str(tmp_path / "wh")
    run_warehouse_upload(spark, spark.createDataFrame(first, SCHEMA), wh, "up-1")
    run_warehouse_upload(spark, spark.createDataFrame(second, SCHEMA), wh, "up-2")
    assert _user_row(spark, wh) == ("a@x", "pro")

    one = str(tmp_path / "one")
    run_warehouse_upload(spark, spark.createDataFrame(first + second, SCHEMA), one, "up-1")
    assert _user_row(spark, one) == ("a@x", "pro")


def test_extract_record_resynced_in_a_later_upload_replaces_its_row(spark, tmp_path):
    """An extract table keys on the record id across uploads: the record
    re-synced under a new message id replaces its row."""
    import json

    schema = SCHEMA.replace("event_name string,", "event_name string, record_id string,")

    def extract(i, email):
        t = T0 + dt.timedelta(seconds=i)
        payload = json.dumps({"type": "extract", "properties": {"email": email}})
        return (f"msg-{i:06d}", None, None, "extract", "Contact Synced", "rec-1", t, t, t, payload)

    wh = str(tmp_path / "wh")
    run_warehouse_upload(spark, spark.createDataFrame([extract(0, "a@x")], schema), wh, "up-1")
    run_warehouse_upload(spark, spark.createDataFrame([extract(1, "b@x")], schema), wh, "up-2")
    rows = load_commit.read_table(spark, f"{wh}/contact_synced").collect()
    assert [(r["id"], r["email"]) for r in rows] == [("rec-1", "b@x")]


def _users_uploads():
    """Two uploads whose second rewrites the users table: user 7 gains a
    trait, user 9 is new, user 8 is carried only by the live table."""
    first = [
        _identify(0, 7, {"email": "a@x", "plan": "free"}),
        _identify(1, 8, {"email": "b@x"}),
        _track(2, 10.0),
        _merge_event(3, "a@x"),
    ]
    second = [
        _identify(10, 7, {"plan": "pro"}),
        _identify(11, 9, {"email": "c@x", "plan": "free"}),
        _track(12, 12.0),
        _track(2, 10.0),  # redelivered
    ]
    return first, second


def _crash_users_pointer_swap(monkeypatch, wh):
    real = os.replace

    def replace(src, dst):
        if dst == os.path.join(wh, "users", "_CURRENT"):
            raise RuntimeError("crash at the users pointer swap")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def _crash_warehouse_log(monkeypatch, wh):
    real = load_commit.record_commit

    def record_commit(table_dir, upload_id):
        if table_dir == wh:
            raise RuntimeError("crash before the warehouse log append")
        return real(table_dir, upload_id)

    monkeypatch.setattr(load_commit, "record_commit", record_commit)


@pytest.mark.parametrize("crash", [_crash_users_pointer_swap, _crash_warehouse_log])
def test_crash_in_users_commit_or_warehouse_log_recovers(spark, tmp_path, monkeypatch, crash):
    """A crash at the users pointer swap, or after every table has
    committed but before the warehouse log append, leaves every table at
    its previous or its new version; the retry lands each row once, a
    later replay runs no Spark job, and the tables equal a crash-free
    run's."""
    first, second = (spark.createDataFrame(b, SCHEMA) for b in _users_uploads())
    ref, wh = str(tmp_path / "ref"), str(tmp_path / "wh")
    run_warehouse_upload(spark, first, ref, "up-1")
    before = _landed(spark, ref)
    run_warehouse_upload(spark, second, ref, "up-2")
    after = _landed(spark, ref)
    users = load_commit.read_table(spark, f"{ref}/users").collect()
    assert {r["id"]: (r["email"], r["plan"]) for r in users} == {
        7: ("a@x", "pro"), 8: ("b@x", None), 9: ("c@x", "free")
    }

    run_warehouse_upload(spark, first, wh, "up-1")
    crash(monkeypatch, wh)
    with pytest.raises(RuntimeError, match="crash"):
        run_warehouse_upload(spark, second, wh, "up-2")
    monkeypatch.undo()
    assert "up-2" not in load_commit.committed_ids(wh)
    for name, rows in _landed(spark, wh).items():
        assert rows in (before.get(name), after[name]), name

    retry = run_warehouse_upload(spark, second, wh, "up-2")
    assert sorted(retry["tables"]) == sorted(after)
    assert _landed(spark, wh) == after

    sc = spark.sparkContext
    sc.setJobGroup("replay-probe", "replay of a committed upload")
    try:
        replay = run_warehouse_upload(spark, second, wh, "up-2")
        jobs = sc.statusTracker().getJobIdsForGroup("replay-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert not any(replay["committed"].values())
    assert _landed(spark, wh) == after


def _with_job_ids(spark, group, fn):
    """``fn()``'s result and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_upload_commits_and_counts_run_no_python_worker(spark, tmp_path, monkeypatch):
    """No frame an upload commits has a PythonRDD in its lineage (the
    identity mappings and the counts are driver-built Arrow
    LocalRelations, functions/localframe.py), and the landed-counts
    collect runs on the driver with no Spark job."""
    first, second = (local_frame(spark, b, SCHEMA) for b in _users_uploads())
    committed, python_fed = set(), []
    for name in ("commit_merge", "commit_overwrite"):

        def capture(*args, _real=getattr(load_commit, name), **kwargs):
            df = next(a for a in args if isinstance(a, DataFrame))
            table = os.path.basename(next(a for a in args if isinstance(a, str)))
            committed.add(table)
            if "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString():
                python_fed.append(table)
            return _real(*args, **kwargs)

        monkeypatch.setattr(load_commit, name, capture)
    wh = str(tmp_path / "wh")
    run_warehouse_upload(spark, first, wh, "up-1")
    out = run_warehouse_upload(spark, second, wh, "up-2")

    assert {"tracks", "users", "rudder_identity_mappings"} <= committed
    assert python_fed == []
    counts, jobs = _with_job_ids(spark, "counts-collect", out["counts"].collect)
    assert jobs == []
    assert {r["table_name"]: r["n"] for r in counts}["users"] == 3


def test_replayed_upload_runs_no_spark_job_counts_included(spark, tmp_path):
    """A replayed upload id is refused from the warehouse's log and the
    footers, and its counts collect runs on the driver: no Spark job from
    the call to the collected counts."""
    batch = local_frame(spark, _users_uploads()[0], SCHEMA)
    wh = str(tmp_path / "wh")
    landed = run_warehouse_upload(spark, batch, wh, "up-1")["counts"].collect()

    def replay():
        return run_warehouse_upload(spark, batch, wh, "up-1")["counts"].collect()

    replayed, jobs = _with_job_ids(spark, "replay-probe", replay)
    assert jobs == []
    assert replayed == landed
