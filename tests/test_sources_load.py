"""Tests for staging/load-file/archiver IO (S4/S5/S10), jobsdb scans
(S3/J1/J2/W1, §2.7 limits), MERGE loads (J6/W2) and schema consolidation.
"""

import glob
import gzip
import json
import os

import pyspark.sql.functions as F

from rudder_server_spark.operators.load import (
    consolidate_schemas,
    consolidate_table_schemas,
    dedup_staging,
    merge_into,
)
from rudder_server_spark.sources.jobsdb import (
    latest_status,
    ordered_pickup,
    unprocessed_jobs,
)
from rudder_server_spark.sources.staging import (
    archive_jobs,
    read_staging_files,
    write_load_files,
)


def test_staging_gz_roundtrip(spark, tmp_path):
    p = str(tmp_path / "staging")
    os.makedirs(p)
    with gzip.open(os.path.join(p, "f1.json.gz"), "wt") as f:
        f.write(json.dumps({"id": "a", "n": 1}) + "\n")
        f.write(json.dumps({"id": "b", "n": 2}) + "\n")
    df = read_staging_files(spark, p, "id string, n long")
    assert {(r["id"], r["n"]) for r in df.collect()} == {("a", 1), ("b", 2)}


def test_load_file_writers(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "b long, a string")
    base = str(tmp_path)
    write_load_files(df, f"{base}/csv", fmt="csv")
    write_load_files(df, f"{base}/json", fmt="json")
    write_load_files(df, f"{base}/parquet", fmt="parquet")
    # csv columns sorted for stable COPY lists
    csv = spark.read.option("header", True).csv(f"{base}/csv")
    assert csv.columns == ["a", "b"]
    assert spark.read.json(f"{base}/json").count() == 2
    assert spark.read.parquet(f"{base}/parquet").count() == 2
    assert glob.glob(f"{base}/csv/*.csv.gz")  # gzip'd


def test_archiver_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("s1", 1), ("s1", 2), ("s2", 3)], "source_id string, job_id long"
    )
    p = str(tmp_path / "arch")
    archive_jobs(df, p)
    assert os.path.isdir(f"{p}/source_id=s1") and os.path.isdir(f"{p}/source_id=s2")
    back = spark.read.json(p)
    assert back.count() == 3


def test_jobsdb_latest_status_and_pileup(spark):
    jobs = spark.createDataFrame(
        [(1, 2), (2, 5), (3, 1)], "job_id long, event_count long"
    )
    statuses = spark.createDataFrame(
        [(1, 1, "executing"), (1, 2, "succeeded"), (2, 3, "failed")],
        "job_id long, status_id long, job_state string",
    )
    last = {r["job_id"]: r["job_state"] for r in latest_status(statuses).collect()}
    assert last == {1: "succeeded", 2: "failed"}
    pile = {r["job_id"] for r in unprocessed_jobs(jobs, statuses).collect()}
    assert pile == {2, 3}  # 2 failed (retryable), 3 never picked


def test_ordered_pickup_event_limit(spark):
    jobs = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4), (4, 100)], "job_id long, event_count long"
    )
    got = [r["job_id"] for r in
           ordered_pickup(jobs, event_count_col="event_count", max_events=8).collect()]
    assert got == [1, 2]  # cumulative cap
    # a single oversized job still returns (the reference's one-extra rule)
    solo = ordered_pickup(
        jobs.where(F.col("job_id") == 4), event_count_col="event_count", max_events=8
    )
    assert [r["job_id"] for r in solo.collect()] == [4]


def test_merge_into_delete_insert(spark):
    existing = spark.createDataFrame(
        [("a", 1, "2024-01-01"), ("b", 1, "2024-01-01")], "id string, v long, received_at string"
    )
    staging = spark.createDataFrame(
        [("b", 2, "2024-01-02"), ("b", 3, "2024-01-03"), ("c", 9, "2024-01-02")],
        "id string, v long, received_at string",
    )
    out = {r["id"]: r["v"] for r in merge_into(existing, staging, pk=("id",)).collect()}
    # b replaced by its LATEST staging row, a untouched, c inserted
    assert out == {"a": 1, "b": 3, "c": 9}
    assert dedup_staging(staging, pk=("id",)).count() == 2


def _merge_by_anti_join(existing, staging, pk, order_col):
    """The delete+insert as a staging dedup, an anti-join and a union: the
    reference form the one-window ``merge_into`` must reproduce."""
    fresh = dedup_staging(staging, pk, order_col)
    kept = existing.join(fresh.select(*pk).distinct(), list(pk), "left_anti")
    return kept.unionByName(fresh, allowMissingColumns=True)


def _rows(df):
    return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)


def test_one_window_merge_equals_anti_join_merge(spark):
    """merge_into is one window over live ∪ staging; it lands the same rows
    and columns as the anti-join form, null keys included: a live row with
    a null key column never matches a delete, null-key staging rows
    collapse as the staging dedup collapses them, and a live key that the
    staging batch does not carry keeps every row it has."""
    live = spark.createDataFrame(
        [
            ("a", 1, "live-a", "x"),
            ("b", 1, "live-b", "x"),  # live-only key
            ("d", 1, "live-d1", "x"),  # live-only key held twice
            ("d", 2, "live-d2", "x"),
            (None, 1, "live-null1", "x"),
            (None, 2, "live-null2", "x"),
        ],
        "id string, received_at long, v string, live_only string",
    )
    staging = spark.createDataFrame(
        [
            ("a", 2, "stage-a-old", "y"),  # duplicate staging keys
            ("a", 3, "stage-a-new", "y"),
            ("c", 1, "stage-c", "y"),  # staging-only key
            (None, 5, "stage-null-old", "y"),
            (None, 6, "stage-null-new", "y"),
        ],
        "id string, received_at long, v string, staging_only string",
    )
    got = _rows(merge_into(live, staging, pk=("id",)))
    assert got == _rows(_merge_by_anti_join(live, staging, ("id",), "received_at"))
    assert got[0] == ["id", "received_at", "v", "live_only", "staging_only"]
    assert [r[2] for r in got[1]].count("live-null1") == 1
    assert "stage-null-new" in [r[2] for r in got[1]]

    # composite key with one null column; tuple order column (ts, then seq)
    schema = "k1 long, k2 string, ts long, seq long, v string"
    live2 = spark.createDataFrame(
        [
            (1, None, 1, 1, "live-1-null"),
            (1, "x", 1, 1, "live-1-x"),
            (2, "y", 1, 1, "live-2-y"),
            (None, "z", 1, 1, "live-null-z"),
        ],
        schema,
    )
    staging2 = spark.createDataFrame(
        [
            (1, None, 5, 1, "stage-1-null-a"),
            (1, None, 5, 2, "stage-1-null-b"),  # same ts: seq breaks the tie
            (1, "x", 3, 1, "stage-1-x"),
            (3, None, 2, 1, "stage-3-null"),
            (None, "z", 4, 1, "stage-null-z"),
        ],
        schema,
    )
    pk, order = ("k1", "k2"), ("ts", "seq")
    got2 = _rows(merge_into(live2, staging2, pk=pk, order_col=order))
    assert got2 == _rows(_merge_by_anti_join(live2, staging2, pk, order))
    assert [r[4] for r in got2[1] if r[:2] == (1, None)] == ["live-1-null", "stage-1-null-b"]


def test_schema_consolidation_rules():
    s1 = {"price": "int", "note": "string"}
    s2 = {"price": "float", "note": "text", "extra": "datetime"}
    out = consolidate_schemas([s1, s2])
    assert out["price"] == "int"      # first type wins
    assert out["note"] == "text"      # text beats string
    assert out["extra"] == "datetime"
    # warehouse schema overrides
    out2 = consolidate_schemas([s1, s2], warehouse_schema={"price": "float"})
    assert out2["price"] == "float"


def test_users_identifies_sync():
    staging = [
        {"identifies": {"age": "bigint", "email": "string"},
         "users": {"age": "float", "email": "string"}},
    ]
    out = consolidate_table_schemas(staging)
    assert out["users"]["age"] == "bigint"  # forced to identifies' type


def test_compact_datasets(spark, tmp_path):
    from rudder_server_spark.sources.jobsdb import compact_datasets
    import pyspark.sql.functions as F

    d1, d2 = str(tmp_path / "ds1"), str(tmp_path / "ds2")
    spark.range(0, 500).withColumn("state", F.lit("succeeded")).write.parquet(d1)
    spark.range(500, 700).withColumn("state", F.lit("failed")).write.parquet(d2)
    out = str(tmp_path / "compacted")
    n = compact_datasets(spark, [d1, d2], out, keep=F.col("state") != "succeeded")
    kept = spark.read.parquet(out)
    assert kept.count() == 200
    assert kept.agg(F.min("id")).head()[0] == 500
    assert n >= 1


def test_schema_evolution_end_to_end():
    """VERDICT r1 #8: the full consolidation fold across two staging batches
    with a live-warehouse override and a text>string upgrade, then the
    migration DDL against the current physical table — pins the PRECEDENCE
    ORDER end-to-end (schema.go:294-374), not just each rule piecewise:

      1. first-type-wins left-to-right across staging files,
      2. except text upgrades string,
      3. live warehouse schema overrides both,
      4. users' column types forced to match identifies',
      5. migration is additive-only (new columns; no type ALTERs).
    """
    from rudder_server_spark.operators.load import consolidate_table_schemas
    from rudder_server_spark.sources.destinations import migration_ddl

    batch1 = {
        "tracks": {"id": "string", "price": "int", "note": "string"},
        "identifies": {"id": "string", "age": "int", "email": "string"},
        "users": {"id": "string", "age": "float"},  # conflicts with identifies
    }
    batch2 = {
        # price arrives as float later -> first-type-wins keeps int;
        # note arrives as text -> upgrades string; extra is brand new
        "tracks": {"id": "string", "price": "float", "note": "text", "extra": "boolean"},
        "identifies": {"id": "string", "age": "float"},  # int stays (first wins)
    }
    live_warehouse = {
        # warehouse already holds price as float -> overrides the staging fold
        "tracks": {"id": "string", "price": "float"},
    }

    out = consolidate_table_schemas([batch1, batch2], live_warehouse)

    assert out["tracks"] == {
        "id": "string",
        "price": "float",   # warehouse override beats staging's first-wins int
        "note": "text",     # text upgraded string
        "extra": "boolean",
    }
    assert out["identifies"]["age"] == "int"   # first-type-wins
    assert out["users"]["age"] == "int"        # forced to identifies' type
    assert out["users"]["id"] == "string"

    # migration against the current physical table: additive only — the new
    # columns appear, the int->float-looking difference on price does NOT
    # emit an ALTER (type changes route values through P7 discards instead)
    current_physical = {"id": "string", "price": "float"}
    ddl = migration_ddl("tracks", current_physical, out["tracks"], "postgres")
    assert ddl == [
        "ALTER TABLE tracks ADD COLUMN extra boolean",
        "ALTER TABLE tracks ADD COLUMN note text",
    ]


def test_enforce_column_limit():
    import pytest

    from rudder_server_spark.operators.load import enforce_column_limit

    small = {"tracks": {f"c{i}": "string" for i in range(10)}}
    enforce_column_limit(small, "postgres")  # under every limit
    enforce_column_limit(small, "unknown_destination")  # unbounded

    wide = {"tracks": {f"c{i}": "string" for i in range(1001)}}
    enforce_column_limit(wide, "bigquery")  # 10000 cap: fine
    with pytest.raises(ValueError, match="schema limit exceeded"):
        enforce_column_limit(wide, "clickhouse")  # 1000 cap
    with pytest.raises(ValueError, match="maxAllowedCount: 5"):
        enforce_column_limit(small, "postgres", limits={"postgres": 5})


def test_provider_case_and_uuid_ts(spark):
    import datetime as dt

    from rudder_server_spark.functions.names import to_provider_case
    from rudder_server_spark.operators.load import with_uuid_ts

    assert to_provider_case("snowflake", "tracks") == "TRACKS"
    assert to_provider_case("SNOWFLAKE", "order_completed") == "ORDER_COMPLETED"
    assert to_provider_case("postgres", "Tracks") == "Tracks"

    df = spark.createDataFrame([(1,)], "id long")
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    row = with_uuid_ts(df, ts=t0).head()
    assert row["uuid_ts"] == t0
    assert with_uuid_ts(df).head()["uuid_ts"] is not None


def test_write_clustered_prunes_by_footer_stats(spark, tmp_path):
    """Range-clustered layout: per-file ts ranges are disjoint, so a narrow
    ts predicate overlaps at most 1-2 of the files — the footer-stats
    pruning that makes time-ranged scans cheap at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    from rudder_server_spark.sources.fixtures import load_table
    from rudder_server_spark.sources.layout import write_clustered

    out = str(tmp_path / "clustered")
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    write_clustered(e, out, ["ts"], n_files=6)

    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 5  # range partitioner may merge tiny tails
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "ts"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    # disjoint (allowing boundary ties): each file's min >= previous max
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert lo2 >= hi1
    # a predicate covering ~1/30 of the time range overlaps few files
    total_lo, total_hi = spans[0][0], max(h for _, h in spans)
    width = (total_hi - total_lo) / 30
    q_lo, q_hi = total_lo + width * 10, total_lo + width * 11
    overlapping = sum(1 for lo, hi in spans if not (hi < q_lo or lo > q_hi))
    assert overlapping <= 2

    # correctness: clustered copy is the same multiset
    assert spark.read.parquet(out).count() == e.count()


def test_staging_corrupt_record_routing(spark, tmp_path):
    """Malformed JSON lines route to the rejects frame with the raw line;
    well-formed rows parse normally (gateway invalid-JSON reject)."""
    import json as _json

    from rudder_server_spark.sources.staging import read_staging_files, split_corrupt

    src = tmp_path / "staging"
    src.mkdir()
    with open(src / "f.json", "w") as fh:
        fh.write(_json.dumps({"message_id": "m1", "user_id": 1}) + "\n")
        fh.write("{this is not json\n")
        fh.write(_json.dumps({"message_id": "m2", "user_id": 2}) + "\n")
        fh.write('{"message_id": "m3", "user_id": }\n')

    df = read_staging_files(
        spark, str(src), schema="message_id string, user_id long",
        corrupt_col="_corrupt_record",
    )
    good, rejects = split_corrupt(df)
    assert sorted(r["message_id"] for r in good.collect()) == ["m1", "m2"]
    raw = sorted(r["raw_payload"] for r in rejects.collect())
    assert raw == ['{"message_id": "m3", "user_id": }', "{this is not json"]


def test_archive_replay_roundtrip(spark, tmp_path):
    from rudder_server_spark.sources.staging import archive_jobs, replay_archive

    arch = str(tmp_path / "archive")
    rows = [
        (f"m{i}", f"s{i % 3}", f"2024-03-0{1 + i % 3}T00:00:00.000Z", f"p{i}")
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "message_id string, source_id string, received_at string, payload string"
    )
    archive_jobs(df, arch)

    # full replay returns everything
    schema = "message_id string, received_at string, payload string"
    assert replay_archive(spark, arch, schema).count() == 12
    # source pruning: only s1's rows
    s1 = replay_archive(spark, arch, schema, sources=["s1"])
    assert s1.count() == 4 and set(r["source_id"] for r in s1.collect()) == {"s1"}
    # time-range pruning
    ranged = replay_archive(
        spark, arch, schema,
        start="2024-03-02T00:00:00.000Z", end="2024-03-03T00:00:00.000Z",
    )
    assert ranged.count() == 4
    # replayed rows re-enter dedup: union with themselves dedups to 12
    rep = replay_archive(spark, arch, schema)
    assert rep.unionByName(rep).dropDuplicates(["message_id"]).count() == 12
    # partition pruning is physical: the source filter reaches the scan as
    # a partition filter, not a post-read filter
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "s1" in plan


def test_cleanup_failed_keys_expires_idle_runs(spark):
    """J9 (rsources/handler.go:416-427): a run expires only when its LAST
    record activity is <= the cutoff; one fresh record keeps the whole
    run's keys alive; stats expire on their own max ts."""
    import datetime

    from rudder_server_spark.sources.jobsdb import cleanup_failed_keys, cleanup_stats

    t = lambda d: datetime.datetime(2024, 1, d)
    keys = spark.createDataFrame(
        [("run-old", 1), ("run-old", 2), ("run-live", 3), ("run-live", 4)],
        "job_run_id string, id int",
    )
    records = spark.createDataFrame(
        [(1, t(2)), (2, t(3)), (3, t(2)), (4, t(20))],  # run-live: one fresh record
        "id int, ts timestamp",
    )
    kept = cleanup_failed_keys(keys, records, t(10))
    assert {r["job_run_id"] for r in kept.collect()} == {"run-live"}
    assert kept.count() == 2  # BOTH live-run keys survive, even the idle one

    stats = spark.createDataFrame(
        [("run-old", t(2), 5), ("run-live", t(20), 7)],
        "job_run_id string, ts timestamp, n int",
    )
    s = cleanup_stats(stats, t(10))
    assert {r["job_run_id"] for r in s.collect()} == {"run-live"}


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic: sorted-by-u-only row groups can never
    prune on v (every group spans v's full domain); the Morton layout
    gives BOTH columns selective min/max footer stats, so a box predicate
    prunes row groups on either dimension."""
    import os

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from rudder_server_spark.sources.layout import write_zordered

    # the payload column is high-entropy so row groups actually fill the
    # 1 MB buffer (pure u/v would RLE-compress into a single group)
    df = spark.range(2_000_000).select(
        (F.col("id") % 256).alias("u"),
        ((F.col("id") * 7919) % 256).alias("v"),
        F.xxhash64("id").alias("payload"),
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lex")
    write_zordered(df, zpath, ["u", "v"], bits=8, n_files=1, row_group_mb=1)
    (
        df.repartitionByRange(1, "u").sortWithinPartitions("u")
        .write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        .parquet(lpath)
    )

    def group_ranges(path, col):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                out.append((st.min, st.max))
        return out

    def overlapping(ranges, lo, hi):
        return sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))

    zv, lv = group_ranges(zpath, "v"), group_ranges(lpath, "v")
    zu = group_ranges(zpath, "u")
    assert len(zv) >= 4  # enough row groups for pruning to mean anything
    # v in [0, 31]: lexicographic layout cannot exclude ANY row group
    assert overlapping(lv, 0, 31) == len(lv)
    # the z-ordered layout excludes a meaningful fraction on v AND on u
    assert overlapping(zv, 0, 31) < len(zv)
    assert overlapping(zu, 0, 31) < len(zu)
