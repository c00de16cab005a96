"""Structured-Streaming shell tests (SURVEY §2.10): file-source ingestion,
watermark dedup, warehouse fan-out sink, router retry/DLQ semantics.
"""

import json
import os

import pytest

import pyspark.sql.functions as F

from rudder_server_spark.streaming.pipeline import (
    router_sink,
    run_router_pipeline,
    run_warehouse_pipeline,
)


def _event(i, etype="track", name="Order Completed", user=None, dup_of=None):
    user = user if user is not None else i % 5
    return {
        "message_id": f"msg-{dup_of if dup_of is not None else i:06d}",
        "user_id": user,
        "anonymous_id": f"anon-{i:04d}",
        "event_type": etype,
        "event_name": name if etype == "track" else None,
        "received_at": f"2024-02-01T00:00:{i % 60:02d}.000Z",
        "sent_at": f"2024-02-01T00:00:{(i - 2) % 60:02d}.000Z",
        "original_timestamp": f"2024-02-01T00:00:{(i - 5) % 60:02d}.000Z",
        "payload": json.dumps(
            {
                "type": etype,
                "properties": {"price": 1.5 + i, "quantity": i % 3},
                "context": {"ip": f"10.0.0.{i}", "library": {"name": "js", "version": "1"}},
            }
        ),
    }


def _write_events(path, events, fname="part-0.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_stream_fills_empty_message_ids_before_dedup(spark, tmp_path):
    """The stream preprocesses as the batch upload does: ids are filled
    (P4) before the watermark dedup (F1). Nine events with empty ids, read
    one file per trigger, all land with nine distinct ids; deduping first
    kept one and held the key "" in state, dropping every later empty id."""
    from rudder_server_spark.streaming.pipeline import (
        processed_stream,
        read_event_stream,
        warehouse_sink,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for f in range(3):
        events = [{**_event(3 * f + k), "message_id": ""} for k in range(3)]
        _write_events(src, events, fname=f"part-{f}.json")

    q = (
        processed_stream(read_event_stream(spark, src, max_files_per_trigger=1))
        .writeStream.foreachBatch(warehouse_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    tracks = spark.read.parquet(os.path.join(out, "tracks"))
    assert tracks.count() == 9
    assert tracks.where(F.length("id") > 0).select("id").distinct().count() == 9


def test_warehouse_stream_dedup_and_fanout(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # 10 tracks; two of them duplicate message_ids of earlier events (F1)
    events = [_event(i) for i in range(10)]
    events.append(_event(10, dup_of=0))
    events.append(_event(11, dup_of=3))
    _write_events(src, events)

    q = run_warehouse_pipeline(spark, src, out, ckpt)
    assert q.awaitTermination(120)

    tracks = spark.read.parquet(os.path.join(out, "tracks"))
    assert tracks.count() == 10  # duplicates dropped by the watermark dedup
    assert tracks.select("id").distinct().count() == 10
    oc = spark.read.parquet(os.path.join(out, "order_completed"))
    assert oc.count() == 10
    assert "price" in oc.columns and "quantity" in oc.columns

    # restart with the same checkpoint + no new files → no duplicate appends
    q2 = run_warehouse_pipeline(spark, src, out, ckpt)
    assert q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "tracks")).count() == 10

    # second micro-batch through the SAME checkpoint: one new event + one
    # cross-batch duplicate — dedup state survives the restart, so only the
    # new event lands (effectively-once across triggers, VERDICT r1 #9)
    _write_events(src, [_event(20), _event(21, dup_of=1)], fname="part-1.json")
    q3 = run_warehouse_pipeline(spark, src, out, ckpt)
    assert q3.awaitTermination(120)
    tracks3 = spark.read.parquet(os.path.join(out, "tracks"))
    assert tracks3.count() == 11
    assert tracks3.select("id").distinct().count() == 11


def _drain(spark, out, deliver, max_attempts):
    """Empty router tick: picks up due retries only (idempotent when the
    retry queue is empty). Production runs these on the trigger cadence."""
    sink = router_sink(out, deliver, max_attempts=max_attempts, backoff_seconds=0)
    empty = spark.read.parquet(os.path.join(out, "router_delivered")).limit(0)
    empty = empty.drop("attempt") if "attempt" in empty.columns else empty
    sink(empty, epoch_id=99)


def test_router_retry_dlq(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events(src, [_event(i, user=i) for i in range(6)])

    # deterministic mock destination: odd users fail every attempt
    def deliver(df):
        return df.withColumn("delivered", F.col("user_id") % 2 == 0)

    q = run_router_pipeline(
        spark, src, out, ckpt, deliver, max_attempts=2, backoff_seconds=0
    )
    assert q.awaitTermination(120)
    # with backoff=0 retries drain on subsequent ticks; force any leftovers
    for _ in range(2):
        _drain(spark, out, deliver, max_attempts=2)

    delivered = spark.read.parquet(os.path.join(out, "router_delivered"))
    assert delivered.count() == 3  # users 0,2,4 — exactly once each
    dlq = spark.read.parquet(os.path.join(out, "router_dlq"))
    assert dlq.count() == 3  # odd users aborted after max_attempts
    assert dlq.agg(F.max("attempt")).head()[0] == 2
    assert spark.read.parquet(os.path.join(out, "router_retries")).count() == 0


def test_router_transient_failure_recovers(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events(src, [_event(i, user=i) for i in range(4)])

    # fails everyone on the first attempt, succeeds on retry
    def deliver(df):
        return df.withColumn("delivered", F.col("attempt") > 0)

    q = run_router_pipeline(
        spark, src, out, ckpt, deliver, max_attempts=3, backoff_seconds=0
    )
    assert q.awaitTermination(120)
    for _ in range(2):
        _drain(spark, out, deliver, max_attempts=3)

    delivered = spark.read.parquet(os.path.join(out, "router_delivered"))
    assert delivered.count() == 4  # all recovered on attempt 1
    assert delivered.agg(F.max("attempt")).head()[0] == 1
    assert spark.read.parquet(os.path.join(out, "router_retries")).count() == 0
    assert not os.path.exists(os.path.join(out, "router_dlq")) or (
        spark.read.parquet(os.path.join(out, "router_dlq")).count() == 0
    )


def test_router_per_key_ordering(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # one user, events out of order in the file
    evs = [_event(i, user=7) for i in (5, 1, 3, 2, 4)]
    _write_events(src, evs)

    seen = []

    def deliver(df):
        # record the per-partition order the sink observes
        rows = df.select("message_id", "received_at").collect()
        seen.extend([r["message_id"] for r in rows])
        return df.withColumn("delivered", F.lit(True))

    q = run_router_pipeline(spark, src, out, ckpt, deliver)
    assert q.awaitTermination(120)
    # collect() preserves partition-internal order; all rows share one user
    # → must arrive sorted by (received_at, message_id)
    assert seen == sorted(seen, key=lambda m: m)


def test_stateful_user_totals_across_batches(spark, tmp_path):
    from rudder_server_spark.streaming.pipeline import stateful_user_totals

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two files → with maxFilesPerTrigger=1, two micro-batches; user 1
    # appears in both, so its state must accumulate across batches
    _write_events(src, [
        {"user_id": 1, "value": 10.0}, {"user_id": 2, "value": 5.0},
    ], fname="b1.json")
    _write_events(src, [
        {"user_id": 1, "value": 7.0},
    ], fname="b2.json")

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    totals = stateful_user_totals(stream)

    def sink(batch_df, epoch_id):
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

    q = (
        totals.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    from pyspark.sql import Window

    res = spark.read.parquet(out)
    # the LAST emission per user carries the accumulated running totals
    last = (
        res.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("epoch"))),
        )
        .where("rn = 1")
        .collect()
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in last}
    assert got[1] == (2, 17.0)  # state carried across micro-batches
    assert got[2] == (1, 5.0)


def test_streaming_session_windows(spark, tmp_path):
    """session_window + watermark: sessions FINALIZE (append) only once the
    watermark passes their end; open sessions stay in state across
    restarts of the same checkpoint."""
    import datetime as dt
    import json as _json

    from rudder_server_spark.streaming.pipeline import sessionize_stream

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src, exist_ok=True)
    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

    def ev(minutes, uid=1, value=2.5):
        return {"user_id": uid, "ts": (t0 + dt.timedelta(minutes=minutes)).isoformat(), "value": value}

    # session A: two events 5 min apart; session B: one event 2h later
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for e in [ev(0), ev(5), ev(120)]:
            fh.write(_json.dumps(e) + "\n")

    schema = "user_id long, ts timestamp, value double"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (
            sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    # batch 1 set the watermark to 11:00 (12:00 - 1h) but eviction uses the
    # PREVIOUS batch's watermark -> nothing emitted yet
    run_once()
    # batch 2 (same checkpoint, no new data) evicts with watermark 11:00:
    # session A [10:00, 10:35) closed; session B (12:00) still open
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    row = got[0]
    assert row["user_id"] == 1 and row["n_events"] == 2
    assert row["session_start"] == t0
    assert row["session_end"] == t0 + dt.timedelta(minutes=35)
    assert row["value_total"] == 5.0


def test_stream_interval_join_left_outer_flush(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unattributed purchases emit
    null-padded only once the watermark PASSES their match window; matches
    emit immediately; purchases inside the final watermark window stay
    buffered (never emit in a bounded run)."""
    import datetime as dt
    import json as _json

    from rudder_server_spark.streaming.pipeline import stream_interval_join

    src = str(tmp_path / "ij_src")
    out = str(tmp_path / "ij_out")
    ckpt = str(tmp_path / "ij_ckpt")
    os.makedirs(src, exist_ok=True)
    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

    def ev(eid, etype, uid, minutes):
        return {
            "event_id": eid, "event_type": etype, "user_id": uid,
            "ts": (t0 + dt.timedelta(minutes=minutes)).isoformat(),
        }

    # P1 (user 1): no click. P2 (user 2): click C1 ten minutes before.
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for e in [ev(101, "purchase", 1, 0), ev(102, "purchase", 2, 0),
                  ev(201, "click", 2, -10)]:
            fh.write(_json.dumps(e) + "\n")

    schema = "event_id long, event_type string, user_id long, ts timestamp"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (
            stream_interval_join(
                stream.where(F.col("event_type") == "purchase"),
                stream.where(F.col("event_type") == "click"),
                window="1 hour", watermark="1 hour", how="left_outer",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    got1 = {(r["purchase_event_id"], r["click_event_id"])
            for r in spark.read.parquet(out).collect()}
    assert got1 == {(102, 201)}  # inner match emits immediately; P1 buffered

    # late activity 5h on, on BOTH sides: the global watermark is the MIN
    # over each side's own event-time max, so a click-side watermark stuck
    # at C1 would hold every outer row forever
    with open(os.path.join(src, "b1.json"), "w") as fh:
        for e in [ev(103, "purchase", 3, 300), ev(202, "click", 98, 300)]:
            fh.write(_json.dumps(e) + "\n")
    run_once()
    # eviction applies the PREVIOUS batch's watermark, so one more REAL
    # batch (a no-data availableNow run may not execute) flushes P1
    with open(os.path.join(src, "b2.json"), "w") as fh:
        for e in [ev(104, "purchase", 4, 301), ev(203, "click", 99, 301)]:
            fh.write(_json.dumps(e) + "\n")
    run_once()
    got2 = {(r["purchase_event_id"], r["click_event_id"])
            for r in spark.read.parquet(out).collect()}
    # P1 flushed null-padded; P3/P4 sit inside the final watermark window
    assert got2 == {(102, 201), (101, None)}


def test_suppression_hot_reload_between_batches(spark, tmp_path):
    """Live suppression updates: the foreachBatch sink re-reads the list
    per micro-batch, so an updated list applies at the NEXT trigger with
    no restart (enterprise/suppress-user sync loop + gateway snapshot)."""
    import json as _json

    from rudder_server_spark.streaming.pipeline import suppression_refresh_sink

    src = str(tmp_path / "sup_src")
    out = str(tmp_path / "sup_out")
    ckpt = str(tmp_path / "sup_ckpt")
    sup = str(tmp_path / "sup_list")
    os.makedirs(src, exist_ok=True)

    def write_events(fname, ids):
        with open(os.path.join(src, fname), "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"user_id": i, "n": i * 10}) + "\n")

    def run_once():
        stream = spark.readStream.schema("user_id long, n long").json(src)
        q = (
            stream.writeStream.foreachBatch(suppression_refresh_sink(out, sup))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # batch 1: no list published yet -> everyone passes
    write_events("b0.json", [1, 2, 3])
    run_once()
    assert {r["user_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}

    # publish a list suppressing user 2; batch 2 applies it without restart
    spark.createDataFrame([(2,)], "user_id long").write.parquet(sup)
    write_events("b1.json", [1, 2, 4])
    run_once()
    got = sorted(r["user_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 1, 2, 3, 4]  # the second batch's user 2 was dropped


def test_ttl_dedup_stream_across_batches(spark, tmp_path):
    from rudder_server_spark.streaming.pipeline import ttl_dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: a, a (in-batch dup), b — batch 2: b (cross-batch dup), c
    _write_events(src, [
        {"message_id": "a", "value": 1.0},
        {"message_id": "a", "value": 2.0},
        {"message_id": "b", "value": 3.0},
    ], fname="b1.json")
    _write_events(src, [
        {"message_id": "b", "value": 4.0},
        {"message_id": "c", "value": 5.0},
    ], fname="b2.json")

    # the TTL timeout plans a no-data micro-batch on every trigger, so an
    # availableNow run only terminates with those batches off
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata)
    spark.conf.set(nodata, "false")
    try:
        stream = (
            spark.readStream.schema("message_id string, value double")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        deduped = ttl_dedup_stream(stream, key_col="message_id")

        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.set(nodata, prev_nodata)

    rows = {r["message_id"]: r["value"] for r in spark.read.parquet(out).collect()}
    # first occurrence wins in-batch (a -> 1.0); cross-batch re-delivery of
    # b is dropped by the keystore state; c passes
    assert rows == {"a": 1.0, "b": 3.0, "c": 5.0}


def test_anomaly_stream_flags_spike_hours(spark, tmp_path):
    """A spike hour (z > 3 vs the broadcast profile) emits exactly one
    final alert once the watermark closes its window; normal hours stay
    silent."""
    import datetime as dt
    import json as _json

    from rudder_server_spark.streaming.pipeline import anomaly_stream

    src = str(tmp_path / "an_src")
    out = str(tmp_path / "an_out")
    ckpt = str(tmp_path / "an_ckpt")
    os.makedirs(src, exist_ok=True)
    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

    def ev(minutes, etype="click"):
        return {"event_type": etype, "ts": (t0 + dt.timedelta(minutes=minutes)).isoformat()}

    rows = [ev(i) for i in range(10)]          # 10:00 hour: 10 clicks (z=8)
    rows += [ev(90), ev(95)]                   # 11:00 hour: 2 clicks (z=0)
    rows += [ev(60 * 5, "view")]               # late event to push the watermark
    with open(os.path.join(src, "b0.json"), "w") as fh:
        for e in rows:
            fh.write(_json.dumps(e) + "\n")

    stats = spark.createDataFrame(
        [("click", 2.0, 1.0), ("view", 1.0, 5.0)], "event_type string, mu double, sd double"
    )
    schema = "event_type string, ts timestamp"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (
            anomaly_stream(stream, stats, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    run_once()  # second batch evicts with the first batch's watermark (13:00)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    row = got[0]
    assert row["event_type"] == "click"
    assert row["hour"] == t0
    assert row["n"] == 10 and row["z"] == 8.0


def test_streaming_index_constraints_match_batch_path(spark, tmp_path):
    """VERDICT r10 #7: the streaming fan-out shares apply_index_constraints
    with the batch upload path — a violating merge rule is cell-swapped and
    discarded IDENTICALLY in both (deterministic ViolatedIdentifier)."""
    import datetime as dt

    from rudder_server_spark.pipeline_warehouse import run_warehouse_upload
    from rudder_server_spark.sources import load_commit

    long_val = "v" * 600

    def merge_event(i, value):
        return {
            "message_id": f"mrg-{i:06d}",
            "user_id": i,
            "anonymous_id": f"anon-{i:04d}",
            "event_type": "merge",
            "event_name": None,
            "received_at": f"2024-02-01T00:00:{i:02d}.000Z",
            "sent_at": f"2024-02-01T00:00:{i:02d}.000Z",
            "original_timestamp": f"2024-02-01T00:00:{i:02d}.000Z",
            "payload": json.dumps({
                "type": "merge",
                "mergeProperties": [
                    {"type": "email", "value": value},
                    {"type": "anonymousId", "value": f"anon-{i:04d}"},
                ],
            }),
        }

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_events(src, [merge_event(0, long_val), merge_event(1, "ok@x.io")])
    q = run_warehouse_pipeline(spark, src, out, ckpt, destination_type="BQ")
    assert q.awaitTermination(120)

    disc_s = spark.read.parquet(os.path.join(out, "rudder_discards")).collect()
    assert len(disc_s) == 1
    assert disc_s[0]["column_value"] == long_val
    assert disc_s[0]["column_name"] == "merge_property_1_value"
    rules_s = spark.read.parquet(
        os.path.join(out, "rudder_identity_merge_rules")
    ).collect()
    swapped_s = sorted(r["merge_property_1_value"] for r in rules_s)

    # same two events through the BATCH upload path
    t0 = dt.datetime(2024, 2, 1, 0, 0, 0)
    batch = spark.createDataFrame(
        [
            (f"mrg-{i:06d}", i, f"anon-{i:04d}", "merge", None, t0, t0, t0,
             merge_event(i, v)["payload"])
            for i, v in ((0, long_val), (1, "ok@x.io"))
        ],
        "message_id string, user_id long, anonymous_id string, "
        "event_type string, event_name string, received_at timestamp, "
        "sent_at timestamp, original_timestamp timestamp, payload string",
    )
    wh = str(tmp_path / "wh")
    run_warehouse_upload(spark, batch, wh, "up-1", destination_type="BQ")
    disc_b = load_commit.read_table(spark, os.path.join(wh, "rudder_discards")).collect()
    rules_b = load_commit.read_table(
        spark, os.path.join(wh, "rudder_identity_merge_rules")
    ).collect()
    swapped_b = sorted(r["merge_property_1_value"] for r in rules_b)

    # identical discard routing AND identical deterministic identifiers
    assert disc_b[0]["column_value"] == disc_s[0]["column_value"]
    assert disc_b[0]["column_name"] == disc_s[0]["column_name"]
    assert disc_b[0]["row_id"] == disc_s[0]["row_id"]
    assert swapped_s == swapped_b
    assert swapped_s[1].startswith("rudder-discards-")

    # clean stream (no violations) must not create the discards table
    src2, out2, ckpt2 = (str(tmp_path / p) for p in ("src2", "out2", "ckpt2"))
    _write_events(src2, [merge_event(2, "a@x.io")])
    q2 = run_warehouse_pipeline(spark, src2, out2, ckpt2, destination_type="BQ")
    assert q2.awaitTermination(120)
    assert not os.path.exists(os.path.join(out2, "rudder_discards"))
