"""Golden-output tests for the P8 event→table fan-out and P2-P4 envelope
normalization — mirrors the reference's hand-written expected-output maps
(embedded/warehouse/transformer_test.go:27-90).
"""

import datetime as dt
import hashlib

import pyspark.sql.functions as F

from rudder_server_spark.operators.envelope import normalize_envelope
from rudder_server_spark.operators.event_tables import event_table_fanout

T0 = dt.datetime(2024, 2, 1, 0, 0, 0)


def _mk_events(spark):
    def env(i, etype, name, payload):
        return (
            f"msg-{i:06d}",
            i,
            f"anon-{i:04d}",
            etype,
            name,
            T0 + dt.timedelta(seconds=i),
            T0 + dt.timedelta(seconds=i - 2),
            T0 + dt.timedelta(seconds=i - 5),
            payload,
        )

    rows = [
        env(0, "track", "Order Completed",
            '{"type":"track","properties":{"price":12.5,"quantity":2,"shipped":true},'
            '"userProperties":{"rating":5},'
            '"context":{"ip":"10.0.0.1","traits":{"email":"a@x.com","logins":3},'
            '"library":{"name":"js","version":"2.0.0"}}}'),
        env(1, "identify", None,
            '{"type":"identify","traits":{"email":"a@x.com","name":"Al","plan":null,"age":30,'
            '"created_at":"2023-01-15T10:00:00.000Z"},'
            '"context":{"ip":"10.0.0.2","traits":{"email":"a@x.com","logins":4},'
            '"library":{"name":"js","version":"2.0.0"}}}'),
        env(2, "identify", None,
            '{"type":"identify","traits":{"email":null,"name":"Albert","plan":"pro","age":31,'
            '"created_at":"2023-02-15T10:00:00.000Z"},'
            '"context":{"ip":"10.0.0.3","traits":{"email":"a@x.com","logins":5},'
            '"library":{"name":"js","version":"2.0.0"}}}'),
        env(3, "page", None,
            '{"type":"page","name":"Home","properties":{"url":"https://x.com/1","title":"T1"},'
            '"context":{"ip":"10.0.0.4","traits":{"email":"b@x.com","logins":1},'
            '"library":{"name":"js","version":"2.0.0"}}}'),
        env(4, "alias", None, '{"type":"alias","previousId":"anon-0099","userId":"4"}'),
        env(5, "merge", None,
            '{"type":"merge","mergeProperties":[{"type":"email","value":"a@x.com"},'
            '{"type":"anonymousId","value":"anon-0001"}]}'),
        env(6, "merge", None,
            '{"type":"merge","mergeProperties":[{"type":"email","value":"z@x.com"},'
            '{"type":"anonymousId","value":"anon-0001"}]}'),
    ]
    return spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string, "
        "event_name string, received_at timestamp, sent_at timestamp, "
        "original_timestamp timestamp, payload string",
    )


def test_envelope_normalization(spark):
    df = normalize_envelope(_mk_events(spark))
    row = df.where(F.col("message_id") == "msg-000000").head()
    # timestamp = received_at - (sent_at - original_timestamp) = received - 3s
    assert row["timestamp"] == T0 - dt.timedelta(seconds=3)
    # rudder_id = md5-uuid(user_id:anonymous_id), deterministic
    h = hashlib.md5(b"0:anon-0000").hexdigest()
    expect = f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    assert row["rudder_id"] == expect


def test_message_id_sanitize(spark):
    df = spark.createDataFrame(
        [(" ok-id \x01", 1, "a"), ("", 2, "b"), (None, 3, "c")],
        "message_id string, user_id long, anonymous_id string",
    ).withColumn("received_at", F.lit(T0).cast("timestamp")) \
     .withColumn("sent_at", F.lit(T0).cast("timestamp")) \
     .withColumn("original_timestamp", F.lit(T0).cast("timestamp"))
    out = normalize_envelope(df).select("user_id", "message_id").collect()
    by_uid = {r["user_id"]: r["message_id"] for r in out}
    assert by_uid[1] == "ok-id"
    # empty / null → filled with a UUID (random, just check the shape)
    for uid in (2, 3):
        assert len(by_uid[uid]) == 36 and by_uid[uid].count("-") == 4


def test_fanout_tables(spark):
    tables = event_table_fanout(normalize_envelope(_mk_events(spark)))
    assert set(tables) == {
        "tracks", "order_completed", "identifies", "users", "pages", "screens",
        "groups", "aliases", "rudder_identity_merge_rules",
        "rudder_identity_mappings",
    }

    tr = tables["tracks"].collect()
    assert len(tr) == 1
    t = tr[0]
    assert t["id"] == "msg-000000"
    assert t["event"] == "order_completed"
    assert t["event_text"] == "Order Completed"
    assert t["context_ip"] == "10.0.0.1"
    assert t["context_traits_logins"] == 3

    oc = tables["order_completed"].head()
    # properties/userProperties land unprefixed with inferred types
    assert oc["price"] == 12.5 and oc["quantity"] == 2
    assert oc["shipped"] is True and oc["rating"] == 5

    ident = {r["id"]: r for r in tables["identifies"].collect()}
    assert ident["msg-000001"]["plan"] is None  # null-skip keeps NULL
    assert ident["msg-000002"]["plan"] == "pro"
    # created_at promoted to timestamp by the RFC3339 rule
    assert ident["msg-000001"]["created_at"] == dt.datetime(2023, 1, 15, 10, 0, 0)

    users = tables["users"].collect()
    assert len(users) == 2  # user 1 and user 2 (identify rows)
    # user rows keyed by user_id; each has its own single identify here
    u = {r["id"]: r for r in users}
    assert u[1]["name"] == "Al" and u[2]["name"] == "Albert"

    p = tables["pages"].head()
    assert p["name"] == "Home" and p["url"] == "https://x.com/1" and p["title"] == "T1"

    a = tables["aliases"].head()
    assert a["previous_id"] == "anon-0099"

    rules = tables["rudder_identity_merge_rules"].collect()
    assert len(rules) == 2

    maps = {r["merge_property_value"]: r["rudder_id"] for r in
            tables["rudder_identity_mappings"].collect()}
    # a@x.com — anon-0001 — z@x.com all one component, min identifier wins
    assert maps["a@x.com"] == maps["anon-0001"] == maps["z@x.com"] == "a@x.com"


def test_users_latest_nonnull_traits(spark):
    # same user, two identifies: later row nulls email → earlier email kept
    rows = [
        ("m1", 7, "a", "identify", None, T0, T0, T0,
         '{"traits":{"email":"old@x.com","name":"O"},"context":{"ip":"1.1.1.1"}}'),
        ("m2", 7, "a", "identify", None, T0 + dt.timedelta(60), T0, T0,
         '{"traits":{"email":null,"name":"N"},"context":{"ip":"1.1.1.1"}}'),
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string, "
        "event_name string, received_at timestamp, sent_at timestamp, "
        "original_timestamp timestamp, payload string",
    )
    u = event_table_fanout(normalize_envelope(df))["users"].head()
    assert u["name"] == "N"          # latest non-null
    assert u["email"] == "old@x.com" # null skipped, falls back to earlier
    assert u["received_at"] == T0 + dt.timedelta(60)


def test_flatten_json_paths_config(spark):
    """P5 configured jsonpaths: a declared subtree stays one JSON column."""
    import json as _json

    from rudder_server_spark.operators.flatten import flatten_events

    rows = [
        (0, _json.dumps({"properties": {"items": {"a": 1, "b": {"c": 2}}, "price": 9.5}})),
        (1, _json.dumps({"properties": {"items": {"a": 3}, "price": 1.0}})),
    ]
    df = spark.createDataFrame(rows, "idx long, payload string")
    flat = flatten_events(
        df, keep_cols=("idx",), promote=set(), json_paths=("properties.items",),
    )
    assert "properties_items" in flat.columns
    assert "properties_items_a" not in flat.columns
    assert "properties_price" in flat.columns
    got = {r["idx"]: r for r in flat.collect()}
    assert _json.loads(got[0]["properties_items"]) == {"a": 1, "b": {"c": 2}}
    assert got[1]["properties_price"] == 1.0


def test_string_like_object_collapse(spark):
    """set.go:30-31 + stringlikeobject.go golden cases
    (transformer_test.go:346-400): context.traits with consecutive
    integer keys and single-char string values re-joins to ONE
    `context_traits` string column; properties with the same shape do NOT
    collapse; non-qualifying rows keep their indexed columns."""
    from rudder_server_spark.operators.flatten import flatten_events

    rows = [
        ("m1", '{"context":{"traits":{"0":"a","1":"b","2":"c"},"ip":"1.2.3.4"}}'),
        # value longer than one char -> not string-like for this row
        ("m2", '{"context":{"traits":{"0":"ab","1":"c"},"ip":"1.2.3.5"}}'),
        # integer-keyed *properties* stay flattened (rule scope is
        # context.traits only, set.go:64-82)
        ("m3", '{"properties":{"0":"x","1":"y"}}'),
    ]
    df = spark.createDataFrame(rows, "message_id string, payload string")
    flat = flatten_events(df, keep_cols=("message_id",), promote=set())
    got = {r["message_id"]: r.asDict() for r in flat.collect()}
    assert got["m1"]["context_traits"] == "abc"
    assert got["m1"]["context_traits_0"] is None
    assert got["m2"]["context_traits"] is None
    assert got["m2"]["context_traits_0"] == "ab"
    assert got["m2"]["context_traits_1"] == "c"
    assert "properties_0" in flat.columns and got["m3"]["properties_0"] == "x"
    assert got["m3"]["context_traits"] is None


def test_screens_and_groups_tables(spark):
    """events.go: screen events land in `screens` (page-symmetric) and
    group events in `groups` keyed by groupId with flattened traits."""
    rows = [
        (
            "m1", 7, "anon-7", "screen", None, T0, T0, T0,
            '{"type":"screen","name":"Home","properties":{"referrer":"app"},'
            '"context":{"ip":"10.0.0.9"}}',
        ),
        (
            "m2", 8, "anon-8", "group", None, T0, T0, T0,
            '{"type":"group","groupId":"g-1","traits":{"plan":"pro","seats":4},'
            '"context":{"ip":"10.0.0.8"}}',
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string,"
        " event_name string, received_at timestamp, sent_at timestamp,"
        " original_timestamp timestamp, payload string",
    )
    tables = event_table_fanout(normalize_envelope(df))
    screens = tables["screens"].collect()
    assert len(screens) == 1
    s = screens[0].asDict()
    assert s["id"] == "m1" and s["name"] == "Home" and s["referrer"] == "app"
    groups = tables["groups"].collect()
    assert len(groups) == 1
    g = groups[0].asDict()
    assert g["id"] == "m2" and g["group_id"] == "g-1"
    assert g["plan"] == "pro" and g["seats"] == 4


def test_fanout_carries_collapsed_string_like_traits(spark):
    """When the corpus's context.traits subtree collapses as a string-like
    object (set.go:30-31), the fan-out tables must select the synthesized
    `context_traits` column — the reference writes the joined string there
    (ADVICE r1: the collapse used to null the indexed columns while no table
    selected the collapsed one, silently dropping the value)."""
    rows = [
        (
            "m1", 1, "anon-1", "track", "Order Completed", T0, T0, T0,
            '{"type":"track","properties":{"price":1.5},'
            '"context":{"ip":"10.0.0.1","traits":{"0":"h","1":"i"}}}',
        ),
        (
            "m2", 2, "anon-2", "track", "Order Completed", T0, T0, T0,
            '{"type":"track","properties":{"price":2.5},'
            '"context":{"ip":"10.0.0.2","traits":{"0":"x","1":"y","2":"z"}}}',
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string,"
        " event_name string, received_at timestamp, sent_at timestamp,"
        " original_timestamp timestamp, payload string",
    )
    tables = event_table_fanout(normalize_envelope(df))
    got = {r["id"]: r.asDict() for r in tables["tracks"].collect()}
    assert got["m1"]["context_traits"] == "hi"
    assert got["m2"]["context_traits"] == "xyz"
    oc = {r["id"]: r.asDict() for r in tables["order_completed"].collect()}
    assert oc["m1"]["context_traits"] == "hi"


def test_fanout_colliding_event_names_union(spark):
    """Two raw event names normalizing to the same snake_cased table land in
    ONE table together (the reference keys physical tables by the normalized
    name); counts agree (ADVICE r1: last-wins dict dropped the earlier name's
    rows and duplicate agg aliases broke fanout_table_counts)."""
    from rudder_server_spark.operators.event_tables import fanout_table_counts

    rows = [
        ("m1", 1, "a1", "track", "Order Completed", T0, T0, T0,
         '{"type":"track","properties":{"price":1.0},"context":{"ip":"10.0.0.1"}}'),
        ("m2", 2, "a2", "track", "order_completed", T0, T0, T0,
         '{"type":"track","properties":{"price":2.0},"context":{"ip":"10.0.0.2"}}'),
        ("m3", 3, "a3", "track", "order completed", T0, T0, T0,
         '{"type":"track","properties":{"price":3.0},"context":{"ip":"10.0.0.3"}}'),
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string,"
        " event_name string, received_at timestamp, sent_at timestamp,"
        " original_timestamp timestamp, payload string",
    )
    tables = event_table_fanout(normalize_envelope(df))
    oc = tables["order_completed"].collect()
    assert {r["id"] for r in oc} == {"m1", "m2", "m3"}

    counts = {r["table_name"]: r["n"] for r in fanout_table_counts(df).collect()}
    assert counts["order_completed"] == 3
    assert counts["tracks"] == 3


def test_extract_fanout_recordid_keyed(spark):
    """P8 extract: retl records land ONLY in the table named by `event`,
    keyed by record_id with delete+insert (W2 latest-wins) semantics and no
    user_id column (events.go:166-243, rules.go ExtractRules)."""
    rows = [
        # two versions of rec-1: the later received_at wins
        ("m1", 1, "a1", "extract", "Product Export", "rec-1", T0, T0, T0,
         '{"type":"extract","event":"Product Export","recordId":"rec-1",'
         '"properties":{"price":10.0},"context":{"ip":"10.0.0.1"}}'),
        ("m2", 1, "a1", "extract", "Product Export", "rec-1",
         T0 + dt.timedelta(seconds=5), T0, T0,
         '{"type":"extract","event":"Product Export","recordId":"rec-1",'
         '"properties":{"price":11.5},"context":{"ip":"10.0.0.2"}}'),
        ("m3", 2, "a2", "extract", "Product Export", "rec-2", T0, T0, T0,
         '{"type":"extract","event":"Product Export","recordId":"rec-2",'
         '"properties":{"price":7.0},"context":{"ip":"10.0.0.3"}}'),
        # a track event so fixed tables still build
        ("m4", 3, "a3", "track", "Order Completed", None, T0, T0, T0,
         '{"type":"track","properties":{"price":1.0},"context":{"ip":"10.0.0.4"}}'),
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, user_id long, anonymous_id string, event_type string,"
        " event_name string, record_id string, received_at timestamp,"
        " sent_at timestamp, original_timestamp timestamp, payload string",
    )
    tables = event_table_fanout(normalize_envelope(df))
    assert "product_export" in set(tables)
    pe = {r["id"]: r.asDict() for r in tables["product_export"].collect()}
    # delete+insert: one row per record_id, latest received_at wins
    assert set(pe) == {"rec-1", "rec-2"}
    assert pe["rec-1"]["price"] == 11.5 and pe["rec-1"]["context_ip"] == "10.0.0.2"
    assert pe["rec-2"]["price"] == 7.0
    assert pe["rec-1"]["event"] == "product_export"
    assert "user_id" not in tables["product_export"].columns
    # extract rows do NOT land in tracks
    assert tables["tracks"].count() == 1

    from rudder_server_spark.operators.event_tables import fanout_table_counts

    counts = {r["table_name"]: r["n"] for r in fanout_table_counts(df).collect()}
    assert counts["product_export"] == 2  # distinct record ids
    assert counts["tracks"] == 1


def test_identity_merge_rules_all_sources(spark):
    """idresolution.go:74-141: merge/alias/default extraction with the
    reference's empty-field validation and single-prop NULL prop2 rows."""
    import datetime as dt

    from rudder_server_spark.operators.event_tables import identity_merge_rules

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # valid merge pair
        ("m1", "merge", None, None,
         '{"mergeProperties":[{"type":"email","value":"a@x.co"},{"type":"user_id","value":"u1"}]}'),
        # merge with an empty value -> rejected
        ("m2", "merge", None, None,
         '{"mergeProperties":[{"type":"email","value":""},{"type":"user_id","value":"u2"}]}'),
        # alias with previousId -> user_id~user_id pair
        ("a1", "alias", "u3", "anon3", '{"previousId":"old3"}'),
        # alias without previousId -> single-prop rule
        ("a2", "alias", "u4", "anon4", '{}'),
        # track with both ids -> anonymous_id~user_id pair
        ("t1", "track", "u5", "anon5", '{}'),
        # track with only anonymous id -> single-prop anonymous_id rule
        ("t2", "track", None, "anon6", '{}'),
        # track with neither -> dropped
        ("t3", "track", None, None, '{}'),
        # extract events never produce rules
        ("x1", "extract", "u7", "anon7", '{}'),
    ]
    df = spark.createDataFrame(
        [(m, et, u, a, p, t0) for m, et, u, a, p in rows],
        "message_id string, event_type string, user_id string, "
        "anonymous_id string, payload string, received_at timestamp",
    )
    out = {
        (r["merge_property_1_type"], r["merge_property_1_value"],
         r["merge_property_2_type"], r["merge_property_2_value"])
        for r in identity_merge_rules(df).collect()
    }
    assert out == {
        ("email", "a@x.co", "user_id", "u1"),
        ("user_id", "u3", "user_id", "old3"),
        ("user_id", "u4", None, None),
        ("anonymous_id", "anon5", "user_id", "u5"),
        ("anonymous_id", "anon6", None, None),
    }


def test_table_name_expr_matches_python(spark):
    """The SQL table normalization (table_name_expr, used by the collect-free
    fanout_table_counts) is byte-identical to the driver-side
    safe_table_name(name.strip().replace(' ', '_').lower()) the fan-out's
    discovery applies."""
    from rudder_server_spark.functions.names import safe_table_name
    from rudder_server_spark.operators.event_tables import table_name_expr

    names = [
        "Order Completed", "order_completed", "  padded  ", "weird!!chars##",
        "123leading", "select", "user", "UPPER CASE", "a--b__c", "_",
        "tabs\tand\nnewlines", "ünïcode café", "x" * 200, "a b  c   d",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["tbl"]
        for r in df.select("name", table_name_expr(F.col("name")).alias("tbl")).collect()
    }
    for n in names:
        want = safe_table_name(n.strip().replace(" ", "_").lower())
        assert got[n] == want, (n, got[n], want)


def test_fanout_event_table_cap_bounds_driver_discovery(spark, monkeypatch):
    """A rogue source emitting per-event UNIQUE event names must not OOM
    the driver or fan out unbounded tables: discovery collects at most
    cap+1 distinct names (LIMIT-bounded by construction) and raises a
    clear error above the cap (VERDICT r3 #3; reference analog: per-event-
    name warehouse tables are expected to be a bounded vocabulary)."""
    import pytest

    from rudder_server_spark.operators import event_tables

    n = 10_000
    rows = normalize_envelope(spark.range(n).select(
        F.format_string("msg-%06d", "id").alias("message_id"),
        F.col("id").alias("user_id"),
        F.format_string("anon-%06d", "id").alias("anonymous_id"),
        F.lit("track").alias("event_type"),
        F.format_string("evt_%06d", "id").alias("event_name"),  # all unique
        F.lit(T0).cast("timestamp").alias("received_at"),
        F.lit(T0).cast("timestamp").alias("sent_at"),
        F.lit(T0).cast("timestamp").alias("original_timestamp"),
        F.lit('{"type":"track","properties":{"x":1}}').alias("payload"),
    ))
    with monkeypatch.context() as m:
        m.setattr(event_tables, "MAX_EVENT_TABLES", 50)
        tables = event_table_fanout(rows)
        with pytest.raises(ValueError, match="MAX_EVENT_TABLES"):
            set(tables)  # iteration triggers the deferred per-event discovery
    # a sane cap admits the same frame (the fixed tables are unaffected)
    with monkeypatch.context() as m:
        m.setattr(event_tables, "MAX_EVENT_TABLES", n + 10)
        ok = event_table_fanout(rows)
        assert "tracks" in ok and len(set(ok)) >= n


def test_mappings_small_graph_path_identical(spark, monkeypatch):
    """A graph under the row cap (the default here, 4 rules) builds the
    rudder_identity_mappings table driver-side from one capped collect; it
    must equal the distributed connected_components join path, forced by
    a cap of 0, including identifiers with quote and backslash
    characters."""
    import json

    from rudder_server_spark.operators import event_tables

    def merge_evt(i, a, b):
        return (
            f"msg-{i:06d}", i, f"anon-{i}", "merge", None,
            T0, T0, T0,
            json.dumps({
                "type": "merge",
                "mergeProperties": [
                    {"type": "email", "value": a},
                    {"type": "anonymousId", "value": b},
                ],
            }),
        )

    rows = [
        merge_evt(0, "a@x.io", "anon-1"),
        merge_evt(1, "b@x.io", "anon-1"),
        merge_evt(2, "we'ird\\id", "anon-2"),  # quote + backslash in value
        merge_evt(3, "c@x.io", "anon-3"),
    ]
    schema = (
        "message_id string, user_id long, anonymous_id string, "
        "event_type string, event_name string, received_at timestamp, "
        "sent_at timestamp, original_timestamp timestamp, payload string"
    )
    # a duplicate rule with a LATER received_at exercises the idents fold
    rows.append((
        "msg-000005", 5, "anon-5", "merge", None,
        T0 + dt.timedelta(hours=3), T0, T0,
        json.dumps({
            "type": "merge",
            "mergeProperties": [
                {"type": "email", "value": "a@x.io"},
                {"type": "anonymousId", "value": "anon-1"},
            ],
        }),
    ))
    df = spark.createDataFrame(rows, schema)
    fast = event_table_fanout(normalize_envelope(df))["rudder_identity_mappings"]
    with monkeypatch.context() as m:
        m.setattr(event_tables, "MAPPINGS_DRIVER_ROWS", 0)
        base = event_table_fanout(normalize_envelope(df))["rudder_identity_mappings"]
    # the driver path is a local frame; only the distributed path joins
    # the idents aggregate to the component labels
    plan = lambda d: d._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    assert "Join" not in plan(fast) and "Join" in plan(base)
    key = lambda r: (r["merge_property_type"], r["merge_property_value"])  # noqa: E731
    b = {key(r): (r["rudder_id"], r["updated_at"]) for r in base.collect()}
    f = {key(r): (r["rudder_id"], r["updated_at"]) for r in fast.collect()}
    assert b == f and len(b) == 7
    # the duplicate rule's later received_at won the idents fold
    assert f[("email", "a@x.io")][1] == T0 + dt.timedelta(hours=3)


def test_discovery_reads_whole_batch(spark, monkeypatch):
    """Schema and timestamp-promotion discovery read every event of the
    batch, as the reference consolidates a whole staging batch
    (warehouse/schema/schema.go:294-343), and run no count pass: 30 context
    keys that each occur in ONE event of the batch are all
    discovered and all promoted to timestamp."""
    from rudder_server_spark.operators.event_tables import (
        discover_fanout_schemas,
        fanout_flat_schema,
    )
    from rudder_server_spark.operators.flatten import discover_promotions

    # event 100*k + 7 alone carries context key r<k>, k in 0..29
    k = (F.col("id") / 100).cast("int")
    payload = F.when(
        F.col("id") % 100 == 7,
        F.format_string('{"type":"track","context":{"r%d":"2024-02-01T00:00:%02dZ"}}', k, k),
    ).otherwise(F.lit('{"type":"track","context":{"ip":"10.0.0.1"}}'))
    rows = spark.range(3_000, numPartitions=2).select(
        F.format_string("msg-%06d", "id").alias("message_id"),
        F.lit("track").alias("event_type"),
        payload.alias("payload"),
    )

    def no_count(self):
        raise AssertionError("discovery must not count the batch")

    monkeypatch.setattr(type(rows), "count", no_count)
    per_alias = discover_fanout_schemas(rows)
    rare_cols = {f"context_r{i}" for i in range(30)}
    assert rare_cols <= {name for name, _, _ in per_alias["ctx"]}
    assert rare_cols <= discover_promotions(rows, fanout_flat_schema(per_alias))
