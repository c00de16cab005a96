"""Unit tests for enrichment (P9/P10), policy filters (F2/F3/F6/F7/F8) and
HLL sketches (A3) — table-driven, mirroring the reference's per-package
unit tests (eventfilter_test.go, bot_test, etc.).
"""

import pyspark.sql.functions as F

from rudder_server_spark.operators.enrich import bot_flag, geo_enrich, ipv4_to_long
from rudder_server_spark.operators.filters import (
    block_events,
    consent_filter,
    fanout_to_destinations,
    filter_supported_types,
    integrations_allows,
    suppress_users,
)
from rudder_server_spark.operators.sketches import (
    merge_tracked_users,
    tracked_users_sketches,
)


def test_ipv4_to_long(spark):
    df = spark.createDataFrame(
        [("0.0.0.0",), ("10.0.3.1",), ("255.255.255.255",), ("999.1.1.1",),
         ("not-an-ip",), (None,)],
        "ip string",
    ).select(ipv4_to_long(F.col("ip")).alias("v"))
    vals = [r["v"] for r in df.collect()]
    assert vals == [0, 10 * 16777216 + 3 * 256 + 1, 4294967295, None, None, None]


def test_geo_enrich_range_join(spark):
    events = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.1.200"), (3, "192.168.0.1"), (4, None)],
        "id long, context_ip string",
    )
    ranges = spark.createDataFrame(
        [(ipv4(10, 0, 0, 0), ipv4(10, 0, 0, 255), "zone-a"),
         (ipv4(10, 0, 1, 0), ipv4(10, 0, 1, 255), "zone-b")],
        "ip_lo long, ip_hi long, zone string",
    )
    out = {r["id"]: r["zone"] for r in geo_enrich(events, ranges).collect()}
    assert out == {1: "zone-a", 2: "zone-b", 3: None, 4: None}


def ipv4(a, b, c, d):
    return a * 16777216 + b * 65536 + c * 256 + d


def test_bot_flag(spark):
    df = spark.createDataFrame(
        [("Mozilla/5.0 (Macintosh)",), ("Googlebot/2.1",), ("curl/8.0",), (None,)],
        "ua string",
    ).select(bot_flag(F.col("ua")).alias("b"))
    assert [r["b"] for r in df.collect()] == [False, True, True, False]


def test_suppress_and_block(spark):
    ev = spark.createDataFrame(
        [(1, "track", "A"), (2, "track", "B"), (3, "page", None)],
        "user_id long, event_type string, event_name string",
    )
    sup = spark.createDataFrame([(2,)], "user_id long")
    assert {r["user_id"] for r in suppress_users(ev, sup).collect()} == {1, 3}
    blocked = spark.createDataFrame([("track", "A")], "event_type string, event_name string")
    assert {r["user_id"] for r in block_events(ev, blocked).collect()} == {2, 3}


def test_integrations_filter_semantics(spark):
    rows = [
        ('{"All": true, "Amplitude": false}', "Amplitude", False),
        ('{"All": true, "Amplitude": false}', "Braze", True),
        ('{"All": false}', "Braze", False),
        ("{}", "Braze", True),          # default allow
        (None, "Braze", True),          # absent object → allow
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d, _ in rows], "integrations string, dest string"
    ).select(integrations_allows(F.col("integrations"), F.col("dest")).alias("ok"))
    assert [r["ok"] for r in df.collect()] == [e for _, _, e in rows]


def test_fanout_and_supported_types(spark):
    ev = spark.createDataFrame(
        [(1, "s1", "track", '{"All": true, "D2": false}'),
         (2, "s1", "identify", "{}"),
         (3, "s2", "track", "{}")],
        "id long, source_id string, event_type string, integrations string",
    )
    conns = spark.createDataFrame(
        [("s1", "D1"), ("s1", "D2"), ("s2", "D3")],
        "source_id string, destination_id string",
    )
    fan = fanout_to_destinations(ev, conns, integrations_col="integrations")
    got = {(r["id"], r["destination_id"]) for r in fan.collect()}
    # event 1 opted out of D2 via integrations
    assert got == {(1, "D1"), (2, "D1"), (2, "D2"), (3, "D3")}

    cfg = spark.createDataFrame(
        [("D1", ["track"]), ("D2", ["track", "identify"]), ("D3", ["identify"])],
        "destination_id string, supported_message_types array<string>",
    )
    st = filter_supported_types(fan, cfg)
    status = {(r["id"], r["destination_id"]): r["status"] for r in st.collect()}
    # filtered rows kept with state (F7), not dropped
    assert status[(1, "D1")] == "ok"
    assert status[(2, "D1")] == "filtered"
    assert status[(2, "D2")] == "ok"
    assert status[(3, "D3")] == "filtered"


def test_consent_filter(spark):
    df = spark.createDataFrame(
        [(1, ["c1"], ["c1", "c2"]), (2, ["c3"], ["c1"]), (3, None, ["c1"]), (4, ["c1"], None)],
        "id long, denied_consent_ids array<string>, consent_category_ids array<string>",
    )
    kept = {r["id"] for r in consent_filter(df).collect()}
    assert kept == {2, 3, 4}  # only the overlapping pair is dropped


def test_hll_sketches_merge_and_accuracy(spark):
    n = 20000
    df = spark.range(n).select(
        F.lit("w1").alias("workspace_id"),
        (F.col("id") % 4).cast("string").alias("source_id"),
        F.col("id").alias("user_id"),
        (F.col("id") % 997).cast("string").alias("anonymous_id"),
        (F.col("id") % 60).alias("minute"),
    )
    # sketches built per (source, minute) then union-merged per source must
    # estimate ≈ the true per-source distinct count (mergeability — the
    # property the reference's per-minute rollup relies on)
    fine = tracked_users_sketches(df, group_cols=("source_id", "minute"))
    merged = merge_tracked_users(fine, group_cols=("source_id",)).collect()
    for r in merged:
        true_users = n / 4
        assert abs(r["users_estimate"] - true_users) / true_users < 0.05
        assert abs(r["anon_estimate"] - 997) / 997 < 0.05


def test_ivf_ann_recall(spark):
    from rudder_server_spark.operators import similarity as S
    from rudder_server_spark.sources.fixtures import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qvec = [float(v) for v in e.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    exact = {r["vec_id"] for r in
             S.brute_force_topk(e.where(F.col("vec_id") != 0), qvec, k=10).collect()}

    cents = S.ivf_train(e, k=8)
    assigned = S.ivf_assign(e.where(F.col("vec_id") != 0), cents)
    approx = {r["vec_id"] for r in S.ivf_topk(assigned, cents, qvec, k=10, nprobe=4).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.8, (recall, exact, approx)
    # nprobe = k degenerates to exact search
    full = {r["vec_id"] for r in S.ivf_topk(assigned, cents, qvec, k=10, nprobe=8).collect()}
    assert full == exact


def test_recordid_dedup_key_and_batch_dedup(spark):
    """F1 retl extension (rules.go:40-60): record-stream events dedup on
    record_id — a re-sync re-delivers the same records under fresh
    messageIds — while event-stream sources keep the messageId key."""
    import pyspark.sql.functions as F

    from rudder_server_spark.operators.filters import batch_dedup, dedup_key

    rows = [
        # cloud (record stream): same record re-synced under two messageIds
        ("m1", "rec-1", "cloud", "2024-02-01T00:00:01"),
        ("m2", "rec-1", "cloud", "2024-02-01T00:00:02"),
        # event stream: same record_id-ish value but category is not
        # record-stream -> messageId key keeps both
        ("m3", "rec-2", "webhook", "2024-02-01T00:00:03"),
        ("m4", "rec-2", "webhook", "2024-02-01T00:00:04"),
        # cloud but empty record_id -> falls back to messageId
        ("m5", "", "cloud", "2024-02-01T00:00:05"),
        ("m6", None, "singer-protocol", "2024-02-01T00:00:06"),
    ]
    df = spark.createDataFrame(
        rows, "message_id string, record_id string, source_category string, ts string"
    ).withColumn("received_at", F.col("ts").cast("timestamp"))

    keys = {
        r["message_id"]: r["k"]
        for r in df.select(
            "message_id",
            dedup_key(df).alias("k"),
        ).collect()
    }
    assert keys == {"m1": "rec-1", "m2": "rec-1", "m3": "m3", "m4": "m4",
                    "m5": "m5", "m6": "m6"}

    kept = {
        r["message_id"]
        for r in batch_dedup(df).collect()
    }
    assert kept == {"m1", "m3", "m4", "m5", "m6"}  # m2 = re-synced rec-1

    # without a source_category column, non-null record_id alone marks the
    # record stream (extract events key by recordId unconditionally)
    kept2 = {
        r["message_id"]
        for r in batch_dedup(df.drop("source_category")).collect()
    }
    assert kept2 == {"m1", "m3", "m5", "m6"}  # m4 now dedups onto m3's rec-2


def test_throttle_pickup_caps_and_order(spark):
    """Token-bucket admission: first `cap` jobs per (destination, window)
    in (ts, id) order are picked; overrides apply per destination; the
    deferred set is exactly the tail (router/throttler/factory.go)."""
    import datetime as dt

    from rudder_server_spark.operators.router import throttle_pickup

    base = dt.datetime(2024, 1, 1)
    rows = [
        # dest a: 3 jobs same day, cap 2 -> last (by ts) deferred
        ("a", base + dt.timedelta(minutes=2), 1),
        ("a", base + dt.timedelta(minutes=1), 2),
        ("a", base + dt.timedelta(minutes=3), 3),
        # dest a next day: bucket refills
        ("a", base + dt.timedelta(days=1), 4),
        # dest b: override cap 1 -> second deferred even though only 2 jobs
        ("b", base + dt.timedelta(minutes=1), 5),
        ("b", base + dt.timedelta(minutes=2), 6),
    ]
    df = spark.createDataFrame(rows, "dest string, ts timestamp, job_id long")
    out = throttle_pickup(
        df, dest_col="dest", ts_col="ts", order_col="job_id",
        caps={"b": 1}, default_cap=2, window="day",
    )
    got = {r["job_id"]: r["picked"] for r in out.collect()}
    assert got == {1: True, 2: True, 3: False, 4: True, 5: True, 6: False}


def test_retry_backoff_schedule_and_aborts(spark):
    """Backoff doubles from initial to the cap; attempt>=maxAttempts or
    age>maxAge aborts (null next_retry); next_retry = ts + backoff
    (router/worker.go:1053)."""
    import datetime as dt

    import pyspark.sql.functions as SF

    from rudder_server_spark.operators.router import retry_backoff

    now = dt.datetime(2024, 1, 30)
    rows = [
        (1, dt.datetime(2024, 1, 29), 1),   # active, backoff 30
        (2, dt.datetime(2024, 1, 29), 2),   # active, backoff 60
        (3, dt.datetime(2024, 1, 29), 5),   # attempt cap -> aborted
        (4, dt.datetime(2024, 1, 1), 1),    # too old -> aborted
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp, attempt int")
    out = retry_backoff(
        df, attempt_col="attempt", ts_col="ts", now=SF.lit(now),
        initial_s=30, max_backoff_s=300, max_attempts=3, max_age_days=20,
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["backoff_s"] == 30 and not by_id[1]["aborted"]
    assert by_id[1]["next_retry_at"] == dt.datetime(2024, 1, 29, 0, 0, 30)
    assert by_id[2]["backoff_s"] == 60 and not by_id[2]["aborted"]
    assert by_id[3]["aborted"] and by_id[3]["next_retry_at"] is None
    # backoff for attempt 5 hits the 300s cap (30*2^4=480 -> 300)
    assert by_id[3]["backoff_s"] == 300
    assert by_id[4]["aborted"] and by_id[4]["next_retry_at"] is None


def test_adaptive_caps_scale_with_failure_rate(spark):
    """Adaptive throttling: a failing destination's cap shrinks
    proportionally (floored at min_cap); healthy destinations keep base."""
    from rudder_server_spark.operators.router import adaptive_caps

    rows = (
        [("a", True)] * 10
        + [("b", True)] * 5 + [("b", False)] * 5
        + [("c", False)] * 10
    )
    df = spark.createDataFrame(rows, "destination_id string, delivered boolean")
    caps = adaptive_caps(df, base_cap=40, min_cap=5)
    assert caps == {"a": 40, "b": 20, "c": 5}


def test_drain_jobs_reason_precedence(spark):
    import datetime as dt

    from rudder_server_spark.operators.router import drain_jobs

    now = dt.datetime(2024, 2, 1)
    old = dt.datetime(2024, 1, 1)   # > 21d before now
    fresh = dt.datetime(2024, 1, 31)
    rows = [
        # expired wins even for an unknown destination (reference checks age first)
        ("ghost", old, ""),
        # unknown destination, fresh -> not-found
        ("ghost", fresh, ""),
        # disabled
        ("dead", fresh, ""),
        # abort list
        ("abortme", fresh, ""),
        # cancelled retl run
        ("ok", fresh, "jr-bad"),
        # empty run id NEVER matches the cancel list
        ("ok", fresh, ""),
        # per-destination retention override: 5d for 'short'
        ("short", dt.datetime(2024, 1, 20), ""),
        # survivor
        ("ok", fresh, "jr-good"),
    ]
    jobs = spark.createDataFrame(
        rows, "destination_id string, created_at timestamp, source_job_run_id string"
    )
    registry = spark.createDataFrame(
        [("ok", True), ("dead", False), ("abortme", True), ("short", True)],
        "destination_id string, enabled boolean",
    )
    out = {
        (r["destination_id"], r["created_at"], r["source_job_run_id"]): r["drain_reason"]
        for r in drain_jobs(
            jobs,
            registry,
            now=F.lit(now),
            abort_destination_ids=("abortme",),
            cancelled_job_run_ids=("jr-bad", ""),
            default_retention_days=21,
            retention_days={"short": 5},
        ).collect()
    }
    assert out[("ghost", old, "")] == "job expired"
    assert out[("ghost", fresh, "")] == "destination is not available in the config"
    assert out[("dead", fresh, "")] == "destination is disabled"
    assert out[("abortme", fresh, "")] == "destination configured to abort"
    assert out[("ok", fresh, "jr-bad")] == "cancelled jobRunID"
    # "" is in the cancel list above, but an empty run id must still pass
    assert out[("ok", fresh, "")] is None
    assert out[("short", dt.datetime(2024, 1, 20), "")] == "job expired"
    assert out[("ok", fresh, "jr-good")] is None
