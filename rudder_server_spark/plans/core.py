"""Core declared queries: events-semantics (Q2-Q7, Q10-Q14) and the extended
relational surface (Q20-Q25) from SURVEY §2.11.

Each Spark implementation maps a reference operator (file:line cited per
query) onto built-in DataFrame ops so Catalyst handles pushdown/pruning and
AQE handles shuffle sizing. Small dimensions (nation) are broadcast
explicitly; everything else is left to the optimizer.
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from rudder_server_spark.operators.asof import asof_join
from rudder_server_spark.plans.registry import register
from rudder_server_spark.functions.localframe import local_frame
from rudder_server_spark.sources.fixtures import fan_out, load_table


def _events(spark, sf):
    return load_table(spark, sf, "events")


# --------------------------------------------------------------------------
# Q2 latest-status join — jobsdb `v_last_` view: DISTINCT ON (job_id) ...
# ORDER BY id DESC (jobsdb/jobsdb_dataset_ddl.go:242, jobsdb_get.go:495-531).
# One shuffle on user_id; window sort is local within partitions.
@register(
    "q2_latest_status",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e
    ) WHERE rn = 1 ORDER BY user_id
    """,
    doc="Latest row per user (max ts, tie max event_id). Ref: jobsdb_dataset_ddl.go:242",
)
def q2(spark, sf):
    e = _events(spark, sf)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q3 pileup counts — unprocessed-jobs anti/outer join + grouped counts
# (jobsdb/jobsdb_get.go:86-160). Keep events with NO later purchase by the
# same user. The per-user max-purchase-ts aggregate is one row per
# purchasing user — unbounded at scale — so no broadcast hint: the join
# keys on user_id (co-partitioned with the aggregate) and AQE broadcasts
# at runtime while it fits.
@register(
    "q3_pileup",
    """
    WITH mp AS (
      SELECT user_id, max(ts) AS max_purchase_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT event_type, count(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM events e LEFT JOIN mp USING (user_id)
    WHERE mp.max_purchase_ts IS NULL OR e.ts >= mp.max_purchase_ts
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Counts of events with no later purchase per user. Ref: jobsdb_get.go:86-160",
)
def q3(spark, sf):
    e = _events(spark, sf)
    mp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("max_purchase_ts"))
    )
    return (
        e.join(mp, "user_id", "left")
        .where(F.col("max_purchase_ts").isNull() | (F.col("ts") >= F.col("max_purchase_ts")))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q4 exact dedup — messageId-keyed dedup (processor/processor.go:1941-1983,
# services/dedup/dedup.go:43-90). Batch form: row_number over the dedup key.
# At scale this is one shuffle on the composite key; streaming form is
# dropDuplicatesWithinWatermark (see streaming/pipeline.py).
@register(
    "q4_exact_dedup",
    """
    SELECT event_type, count(*) AS cnt FROM (
      SELECT event_type, row_number() OVER (
        PARTITION BY user_id, event_type, CAST(ts AS DATE) ORDER BY event_id
      ) AS rn FROM events
    ) WHERE rn = 1 GROUP BY event_type ORDER BY event_type
    """,
    doc="Dedup on (user_id, event_type, day), keep min event_id. Ref: dedup.go:43-90",
)
def q4(spark, sf):
    # Count of dedup survivors == count of DISTINCT dedup keys: nothing
    # downstream reads the surviving row's payload, so the keep-min-event_id
    # window (a full sort per key group) degenerates to a two-level hash
    # aggregate — partial map-side combine, no sort, ~2x faster here and
    # the only shape that survives 100 TB (the sort-based window shuffles
    # and orders the whole corpus). The row-keeping dedup operator itself
    # is batch_dedup (q69/pipeline paths), which this query deliberately
    # does not re-exercise.
    e = _events(spark, sf)
    return (
        e.groupBy("event_type", "user_id", F.col("ts").cast("date").alias("_d"))
        .agg(F.lit(1).alias("_one"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q5 suppression — GDPR user suppression as broadcast anti-join
# (gateway/handle.go:574-602, enterprise/suppress-user/handler.go:27).
@register(
    "q5_suppression",
    """
    SELECT event_type, count(*) AS cnt
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events s WHERE s.event_type = 'error' AND s.user_id = e.user_id
    )
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Anti-join against suppressed (error-having) users. Ref: gateway/handle.go:574-602",
)
def q5(spark, sf):
    e = _events(spark, sf)
    # per-user frame (unbounded at scale): user_id-keyed anti-join, AQE
    # broadcasts at runtime when small. The OPERATOR (suppress_users)
    # keeps its hint because real suppression LISTS are bounded config.
    suppressed = e.where(F.col("event_type") == "error").select("user_id").distinct()
    return (
        e.join(suppressed, "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q6 supported-type filter — destination supportedMessageTypes; unsupported
# rows are kept with state 'filtered' (processor/eventfilter/eventfilter.go:
# 24-294, ConvertToFilteredTransformerResponse processor.go:3799-3899).
@register(
    "q6_supported_filter",
    """
    SELECT event_type,
           CASE WHEN event_type IN ('click','view','purchase') THEN 'ok' ELSE 'filtered' END AS status,
           count(*) AS cnt
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Supported-message-type filter with 'filtered' status. Ref: eventfilter.go:24-294",
)
def q6(spark, sf):
    e = _events(spark, sf)
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "status",
            F.when(F.col("event_type").isin("click", "view", "purchase"), "ok").otherwise("filtered"),
        )
        .select("event_type", "status", "cnt")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q7 fan-out join — event × enabled destinations of its source
# (processor/processor.go:2373-2453). The connections table (nation, 25 rows)
# is broadcast — no shuffle of the fact side at any scale.
@register(
    "q7_fanout",
    """
    SELECT n_name, count(*) AS cnt
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    doc="Fan-out inner join to broadcast dimension. Ref: processor.go:2373-2453",
)
def q7(spark, sf):
    e = _events(spark, sf)
    n = load_table(spark, sf, "nation")
    return (
        e.join(F.broadcast(n), e.user_id % 25 == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Q10 schema-coercion discards — dataTypeFor + HandleSchemaChange: values
# incompatible with the declared schema route to rudder_discards
# (embedded/warehouse/datatype.go:11-95, slave/worker.go:404-465,638-696;
# discards table shape warehouse/utils/utils.go:176-184).
@register(
    "q10_discards",
    """
    SELECT event_id AS row_id, 'value' AS column_name,
           CAST(value AS VARCHAR) AS column_value,
           'incompatible schema conversion' AS reason
    FROM events WHERE value <> floor(value) ORDER BY event_id
    """,
    doc="Non-integer values under {value: BIGINT} schema → discards. Ref: datatype.go:39-48",
)
def q10(spark, sf):
    e = _events(spark, sf)
    return (
        e.where(F.col("value") != F.floor("value"))
        .select(
            F.col("event_id").alias("row_id"),
            F.lit("value").alias("column_name"),
            F.col("value").cast("string").alias("column_value"),
            F.lit("incompatible schema conversion").alias("reason"),
        )
        .orderBy("row_id")
    )


# --------------------------------------------------------------------------
# Q11 reporting rollup — metrics grouped by labels + minute bucket with
# last-sample retention (enterprise/reporting/reporting.go:262-334).
# max_by keeps the sample without a second window pass.
@register(
    "q11_reporting_rollup",
    """
    SELECT event_type, date_trunc('minute', ts) AS bucket,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
           count(*) AS cnt, max(ts) AS max_ts,
           max_by(props, event_id) AS sample
    FROM events GROUP BY event_type, date_trunc('minute', ts)
    ORDER BY event_type, bucket
    """,
    doc="Minute-bucket reporting rollup with retained sample. Ref: reporting.go:262-334",
)
def q11(spark, sf):
    e = _events(spark, sf)
    return (
        e.groupBy("event_type", F.date_trunc("minute", "ts").alias("bucket"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
            F.count("*").alias("cnt"),
            F.max("ts").alias("max_ts"),
            F.max_by("props", "event_id").alias("sample"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# Q12 tracked users — per-(workspace,source) distinct users
# (enterprise/trackedusers/users_reporter.go:108-230). Exact here (the
# oracle); the HLL production path is operators/sketches.py.
@register(
    "q12_tracked_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS distinct_users FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS distinct_users FROM events
    ORDER BY event_type
    """,
    doc="Exact distinct users per event_type + ALL row. Ref: users_reporter.go:108-230",
)
def q12(spark, sf):
    e = _events(spark, sf)
    per = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("distinct_users"))
    allr = e.agg(F.countDistinct("user_id").alias("distinct_users")).select(
        F.lit("ALL").alias("event_type"), "distinct_users"
    )
    return per.unionByName(allr).orderBy("event_type")


# --------------------------------------------------------------------------
# Q13 distinct values — jobsdb loose index scan for DISTINCT
# (jobsdb/jobsdb_get.go:184-265). Catalyst's partial-agg distinct replaces
# the hand-written recursive-CTE skip scan.
@register(
    "q13_distinct",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    doc="Distinct parameter values. Ref: jobsdb_get.go:184-265",
)
def q13(spark, sf):
    return _events(spark, sf).select("event_type").distinct().orderBy("event_type")


# --------------------------------------------------------------------------
# Q14 job-run stats — rsources per-run status counts
# (services/rsources/handler.go:67-110).
@register(
    "q14_jobrun_stats",
    """
    SELECT event_type,
           CASE WHEN value < 50 THEN 'failed' WHEN value < 100 THEN 'succeeded' ELSE 'waiting' END AS status,
           count(*) AS cnt
    FROM events GROUP BY 1, 2 ORDER BY event_type, status
    """,
    doc="Status-bucketed counts. Ref: rsources/handler.go:67-110",
)
def q14(spark, sf):
    e = _events(spark, sf)
    status = (
        F.when(F.col("value") < 50, "failed")
        .when(F.col("value") < 100, "succeeded")
        .otherwise("waiting")
    )
    return (
        e.groupBy("event_type", status.alias("status"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type", "status")
    )


# --------------------------------------------------------------------------
# Q20 TPC-H Q3-style — 3-way join + agg + top-k. AQE broadcasts customer
# (post-filter it is far under the 64 MB threshold at any tested SF).
@register(
    "q20_tpch_q3",
    """
    SELECT l_orderkey, o_orderdate,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="customer ⋈ orders ⋈ lineitem, revenue top-10.",
)
def q20(spark, sf):
    c = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").where(F.col("o_orderdate") < "1995-03-15")
    l = load_table(spark, sf, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q21 rollup — native Spark ROLLUP (not in the reference; SURVEY §2.5).
@register(
    "q21_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price,
           CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,6))) / count(*), 6) AS DOUBLE) AS avg_disc,
           count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP(l_returnflag, l_linestatus) aggregate.",
)
def q21(spark, sf):
    # Two scale tricks vs the naive `df.rollup(...)`:
    # 1. Aggregate at the finest grouping FIRST, then rollup the tiny result.
    #    Spark's ROLLUP physically Expands every input row once per grouping
    #    set (3x the scan here); sums/counts are decomposable, so rolling up
    #    the pre-aggregated handful of rows is semantically identical and
    #    skips the 3x Expand over the fact table. At 100 TB this is the
    #    difference between shuffling 3x the table and shuffling ~KB.
    # 2. Sum fixed-point values (centi-units; inputs have <=2 fractional
    #    digits so round(x*100) is exact). Bounded columns (l_quantity<=50,
    #    l_discount<=0.1 per row) sum as longs — overflow needs >1.8e15 rows
    #    per group, beyond 100 TB. l_extendedprice is unbounded-ish (~1e7
    #    centi-units/row → long overflow near ~1e12 rows/group, inside 100 TB
    #    territory), so it sums as decimal(18,0) — Spark widens the sum to
    #    decimal(28,0), overflow-safe to 1e28, per-row values stay long-backed.
    #    Final division back to decimal happens on the rolled-up rows only.
    l = load_table(spark, sf, "lineitem")
    centi = lambda c: F.round(F.col(c) * 100)
    base = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(centi("l_quantity").cast("long")).alias("sq"),
        F.sum(centi("l_extendedprice").cast("decimal(18,0)")).alias("sp"),
        F.sum(centi("l_discount").cast("long")).alias("sd"),
        F.count("*").alias("c"),
    )
    unscale = lambda c, d: F.round(F.sum(c).cast("decimal(38,6)") / 100, d).cast("double")
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            unscale("sq", 2).alias("sum_qty"),
            unscale("sp", 2).alias("sum_price"),
            F.round(F.sum("sd").cast("decimal(38,6)") / 100 / F.sum("c"), 6)
            .cast("double")
            .alias("avg_disc"),
            F.sum("c").alias("cnt"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Q22 analytic windows — lag/lead/rank/running sum (SURVEY §2.6; ranking
# beyond row_number is Spark-native surface).
@register(
    "q22_windows",
    """
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS price_rank,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    doc="lag/lead + rank + running sum over orders.",
)
def q22(spark, sf):
    o = load_table(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(wr).cast("long").alias("price_rank"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            2,
        ).cast("double").alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# Q23 per-group top-k (SURVEY §2.7) — row_number ≤ k.
@register(
    "q23_topk",
    """
    SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3 ORDER BY o_orderpriority, rn
    """,
    doc="Top 3 orders by totalprice per priority.",
)
def q23(spark, sf):
    o = load_table(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    )


# --------------------------------------------------------------------------
# Q24 set ops — INTERSECT / EXCEPT / UNION counts (SURVEY §2.8; reference
# forms at redshift.go:886-905, identity.go:314-324).
@register(
    "q24_setops",
    """
    SELECT
      (SELECT count(*) FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)) AS n_intersect,
      (SELECT count(*) FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)) AS n_except,
      (SELECT count(*) FROM (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
        UNION
        SELECT o_orderkey FROM orders WHERE o_totalprice < 50000)) AS n_union
    """,
    doc="INTERSECT/EXCEPT/UNION counts in one row.",
)
def q24(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders")
    ok = o.select("o_custkey")
    n_inter = c.intersect(ok.withColumnRenamed("o_custkey", "c_custkey")).count()
    # subtract IS EXCEPT DISTINCT — states the intent directly (exceptAll+
    # distinct only coincided because c_custkey is unique)
    n_exc = c.subtract(ok.withColumnRenamed("o_custkey", "c_custkey")).count()
    hi = o.where(F.col("o_totalprice") > 400000).select("o_orderkey")
    lo = o.where(F.col("o_totalprice") < 50000).select("o_orderkey")
    n_union = hi.union(lo).distinct().count()
    return local_frame(spark,
        [(n_inter, n_exc, n_union)], "n_intersect bigint, n_except bigint, n_union bigint"
    )


# --------------------------------------------------------------------------
# Q25 as-of join — latest preceding click per purchase (operators/asof.py).
# The oracle uses the naive LATERAL form; the engine uses the union+window
# single-shuffle plan.
@register(
    "q25_asof",
    """
    SELECT p.event_id AS purchase_event_id,
           l.click_event_id,
           -- integer-ms rounding: avoids engine-specific double rounding at .5 boundaries
           CASE WHEN l.click_event_id IS NULL THEN NULL
                ELSE CAST((date_diff('microsecond', l.click_ts, p.ts) + 500) // 1000 AS DOUBLE) / 1000.0
           END AS seconds_between
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT c.event_id AS click_event_id, c.ts AS click_ts
      FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts < p.ts
      ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
    ) l ON TRUE
    ORDER BY purchase_event_id
    """,
    doc="As-of join: latest preceding click per purchase. SURVEY Q25.",
)
def q25(spark, sf):
    e = _events(spark, sf)
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        carry_cols=["event_id"],
        left_tiebreak="event_id",
    )
    return joined.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("asof_event_id").alias("click_event_id"),
        (
            # cast() tolerates TIMESTAMP_NTZ parquet columns (tz offset cancels
            # in the difference); unix_micros requires TIMESTAMP proper.
            F.floor(
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("asof_ts").cast("timestamp"))
                    + 500
                )
                / 1000
            ).cast("double")
            / F.lit(1000.0)
        ).alias("seconds_between"),
    ).orderBy("purchase_event_id")


# --------------------------------------------------------------------------
# Q29 sessionization — gap-based sessions (30-min inactivity) per user:
# new-session marker via lag(), session number via running sum, then a
# per-session rollup. The reference has no sessionizer (§2.10 notes
# session_window as Spark-native surface); this pins the full pattern —
# at scale it is two window passes over one (user_id) partitioning plus a
# partial-agg'd groupBy, no extra shuffle between them.
@register(
    "q29_sessionize",
    """
    WITH marks AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM marks
    )
    SELECT user_id, min(event_id) AS session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sess_no
    ORDER BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity) + per-session rollup.",
)
def q29(spark, sf):
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.make_dt_interval(F.lit(0), F.lit(0), F.lit(30), F.lit(0.0))
    marks = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts") - F.lag("ts").over(w)) > gap),
            1,
        ).otherwise(0),
    )
    sess = marks.withColumn(
        "sess_no", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.min("event_id").alias("session_id"),
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .drop("sess_no")
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# Q33 warehouse merge-load (J6/S7 in the CORRECTNESS gate, not just unit
# tests): an existing main table and a staging batch carved deterministically
# from events; the staging batch is deduped per key keeping the latest
# (ts, event_id) and replaces same-key main rows — the reference's
# delete+insert / MERGE INTO load (postgres/load.go:280-340,
# snowflake.go:460-520), expressed on parquet as one window over main ∪
# staging per key (the oracle states it as the anti-join + union).
@register(
    "q33_warehouse_merge",
    """
    WITH main AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 3 = 0) WHERE rn = 1
    ),
    fresh AS (
      SELECT user_id, event_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 3 <> 0) WHERE rn = 1
    ),
    kept AS (SELECT m.* FROM main m ANTI JOIN fresh f ON m.user_id = f.user_id)
    SELECT user_id, event_id, event_type, value
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM fresh)
    ORDER BY user_id
    """,
    doc=(
        "Warehouse merge-load: staging rows deduped per pk on latest "
        "(ts, event_id) replace same-key main rows; output is the post-MERGE "
        "table. One window over main ∪ staging per pk, staging rows first — "
        "at scale one shuffle on the pk does the dedup and the delete "
        "together, and on Delta this same result is MERGE INTO."
    ),
    tags=("rudder", "load"),
)
def q33(spark, sf):
    from rudder_server_spark.operators.load import dedup_staging, merge_into

    e = load_table(spark, sf, "events")
    main = dedup_staging(
        e.where(F.col("event_id") % 3 == 0), pk=("user_id",), order_col=("ts", "event_id")
    )
    staging = e.where(F.col("event_id") % 3 != 0)
    merged = merge_into(main, staging, pk=("user_id",), order_col=("ts", "event_id"))
    return merged.select("user_id", "event_id", "event_type", "value").orderBy("user_id")


# --------------------------------------------------------------------------
# Q34 streaming sessionization (SURVEY §2.10 session windows): q29's
# 30-minute-gap sessions computed by Structured Streaming's native
# session_window + watermark state machine, run to completion over a staged
# file stream (two availableNow triggers on one checkpoint — eviction uses
# the previous batch's watermark) and checked against the batch SQL oracle.
# Only CLOSED sessions emit in append mode: end < max(ts) - 1h watermark;
# the oracle applies the same cut. Timestamps restage as unix_micros longs
# (JSON's default millisecond format would truncate the fixture's µs).
@register(
    "q34_streaming_sessions",
    """
    WITH marks AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM marks
    ),
    s AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS value_total
      FROM sess GROUP BY user_id, sess_no
    )
    SELECT * FROM s
    WHERE session_end < (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    ORDER BY user_id, session_start
    """,
    doc=(
        "Streaming gap sessionization: session_window + 1h watermark over a "
        "restaged event stream, append-mode finalization, compared to the "
        "batch sessionizer. State is per open session per user (RocksDB at "
        "scale); the watermark bounds state size regardless of corpus size."
    ),
    tags=("streaming",),
)
def q34(spark, sf):
    from rudder_server_spark.sources.staged_stream import (
        staged_events_parquet,
        stream_scratch_dir,
    )
    from rudder_server_spark.streaming.pipeline import sessionize_stream

    # staged source shared across the streaming queries (schema-on-read:
    # the explicit readStream schema below ignores the extra columns);
    # checkpoint + sink stay per-run so the full stream replays
    src = staged_events_parquet(spark, sf)
    tmp = stream_scratch_dir("rss_sess_")
    out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"

    schema = "user_id long, tsus long, value double"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    # 4 state-store/shuffle partitions: sized to the staged fixture
    # volume (state-store commit overhead is per-partition per-batch;
    # at cluster volume this is a config keyed to throughput)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # ONE availableNow run: its trailing no-data micro-batch advances
        # the watermark past the last batch's max event time and emits the
        # closed sessions (verified equal to the two-trigger variant at
        # sf0.01 and sf0.1 — the old second trigger re-planned the whole
        # query ~0.4s just to reach the same eviction point)
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros("tsus"))
            .withColumn("value", F.col("value").cast("decimal(18,6)"))
        )
        q = (
            sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)

    return (
        spark.read.parquet(out)
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            F.round(F.col("value_total"), 2).cast("double").alias("value_total"),
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# Q35 retention/expiry (F10 under the oracle gate): drop events older than
# jobMaxAge relative to the corpus high-water mark (deterministic stand-in
# for now()), then per-type survivor stats — the jobsdb retention sweep
# (jobsdb.go:370-372 jobMaxAge; maxDSRetention rotation).
@register(
    "q35_retention",
    """
    WITH hw AS (SELECT max(ts) AS m FROM events)
    SELECT event_type, count(*) AS n,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events CROSS JOIN hw
    WHERE ts >= m - INTERVAL 7 DAY
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Retention sweep: survivors of a 7-day jobMaxAge cut anchored at the "
        "corpus max timestamp, rolled up per event type. The age predicate "
        "is a pushed-down scan filter at 100 TB (partition/row-group "
        "pruning on ts); the high-water mark is one bounded metadata agg."
    ),
    tags=("rudder", "filters"),
)
def q35(spark, sf):
    from rudder_server_spark.operators.coerce import expire_jobs

    e = load_table(spark, sf, "events")
    # bounded metadata: one column-pruned max over parquet footer stats. As a
    # LITERAL the age predicate reaches PushedFilters (row-group/partition
    # pruning at 100 TB); as a joined column it would filter post-scan.
    m = e.agg(F.max("ts")).head()[0]
    kept = expire_jobs(e, now=F.lit(m), created_col="ts", max_age_days=7)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q36 streaming interval join (§2.10 stream-stream joins): q25's
# click→purchase attribution as a native watermarked stream-stream join —
# every (purchase, click-by-same-user-within-1h-before) pair, emitted as
# the events flow. Inner-join matches emit immediately; the watermarks
# exist to bound buffered state, so one availableNow pass over the staged
# stream yields the complete pair set.
@register(
    "q36_streaming_interval_join",
    """
    SELECT p.event_id AS purchase_event_id, c.event_id AS click_event_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY purchase_event_id, click_event_id
    """,
    doc=(
        "Stream-stream interval join: purchases matched to preceding-hour "
        "clicks per user under watermarks that bound the buffered state "
        "(retention ~ watermark + window). The streaming twin of the q25 "
        "batch as-of join."
    ),
    tags=("streaming",),
)
def q36(spark, sf):
    from rudder_server_spark.sources.staged_stream import (
        staged_events_parquet,
        stream_scratch_dir,
    )
    from rudder_server_spark.streaming.pipeline import stream_interval_join

    # staged source shared with q34 (schema-on-read drops unused columns)
    src = staged_events_parquet(spark, sf)
    tmp = stream_scratch_dir("rss_ij_")
    out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"

    schema = "event_id long, user_id long, event_type string, tsus long"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    # 4 state-store/shuffle partitions: sized to the staged fixture
    # volume (state-store commit overhead is per-partition per-batch;
    # at cluster volume this is a config keyed to throughput)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    # INNER join: every match emits in the data batch that completes the
    # pair — the trailing no-data micro-batch only evicts state, which a
    # terminating availableNow run never reuses. Skipping it removes a
    # whole state-store commit round (~0.6 s here; left-OUTER joins DO
    # need it to flush null-extended rows — see the pipeline watermark-
    # flush test, which runs under the default).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros("tsus"))
        )
        q = (
            stream_interval_join(
                stream.where(F.col("event_type") == "purchase"),
                stream.where(F.col("event_type") == "click"),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )

    return spark.read.parquet(out).orderBy("purchase_event_id", "click_event_id")


# --------------------------------------------------------------------------
# Q37 per-destination token-bucket throttling (§2.10 "Throttling", previously
# out of correctness scope): the router's pickup throttler as a deterministic
# batch admission — within each (destination, day) window the first `cap`
# jobs in delivery order are picked, the rest deferred to the next sweep
# (router/throttler/factory.go:49-260, handle.go:256-320). The `error`
# destination carries a lower configured cap, standing in for the adaptive
# limiter backing off a failing destination.
@register(
    "q37_throttled_pickup",
    """
    WITH t AS (
      SELECT event_type,
             date_trunc('day', ts) AS window_start,
             CASE WHEN event_type = 'error' THEN 30 ELSE 50 END AS cap,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT) AS picked,
           CAST(SUM(CASE WHEN rn > cap THEN 1 ELSE 0 END) AS BIGINT) AS deferred,
           count(DISTINCT CASE WHEN rn > cap THEN window_start END)
             AS saturated_windows
    FROM t GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Token-bucket pickup throttling per (destination, day) window with "
        "per-destination cap overrides; one shuffle on (destination, "
        "window_start) — window granularity bounds group size at 100 TB. "
        "Ref: router/throttler/factory.go:49-260, router/handle.go:256-320"
    ),
    tags=("rudder", "streaming"),
)
def q37(spark, sf):
    from rudder_server_spark.operators.router import throttle_pickup

    e = _events(spark, sf)
    jobs = throttle_pickup(
        e, dest_col="event_type", ts_col="ts", order_col="event_id",
        caps={"error": 30}, default_cap=50, window="day",
    )
    # roll up per (destination, window) FIRST: this agg co-partitions with
    # the row_number window's exchange (no new shuffle), and turns the
    # saturated-window count into a plain SUM over tiny per-window rows —
    # avoiding count_distinct's Expand over the full jobs table.
    per_win = jobs.groupBy("event_type", "window_start").agg(
        F.sum(F.when(F.col("picked"), 1).otherwise(0)).alias("w_picked"),
        F.sum(F.when(~F.col("picked"), 1).otherwise(0)).alias("w_deferred"),
    )
    return (
        per_win.groupBy("event_type")
        .agg(
            F.sum("w_picked").alias("picked"),
            F.sum("w_deferred").alias("deferred"),
            F.sum(F.when(F.col("w_deferred") > 0, 1).otherwise(0)).alias(
                "saturated_windows"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q38 retry backoff scheduling (§2.10 "Retries/backoff"): failed jobs get
# RetryTime = exec_time + backoff(attempt), doubling 30s→300s cap, until
# aborted at maxAttempts=3 or jobMaxAge=20d relative to the batch high-water
# mark (router/worker.go:1053, router/utils abort rules). The attempt number
# is derived deterministically from event_id so both engines see the same
# job history.
@register(
    "q38_retry_backoff",
    """
    WITH hw AS (SELECT max(ts) AS m FROM events),
    s AS (
      SELECT 1 + CAST(event_id % 5 AS INT) AS attempt, ts,
             LEAST(300, CAST(30 * power(2, CAST(event_id % 5 AS INT)) AS INT))
               AS backoff_s,
             (1 + CAST(event_id % 5 AS INT) >= 3
              OR ts < m - INTERVAL 20 DAY) AS aborted
      FROM events CROSS JOIN hw WHERE event_type = 'error'
    )
    SELECT attempt,
           CASE WHEN aborted THEN 'aborted' ELSE 'waiting_retry' END AS state,
           count(*) AS n,
           min(CASE WHEN NOT aborted
                    THEN ts + to_seconds(CAST(backoff_s AS BIGINT)) END)
             AS min_next_retry,
           max(CASE WHEN NOT aborted
                    THEN ts + to_seconds(CAST(backoff_s AS BIGINT)) END)
             AS max_next_retry
    FROM s GROUP BY attempt, state ORDER BY attempt, state
    """,
    doc=(
        "Exponential retry backoff with maxAttempts + jobMaxAge aborts; a "
        "pure narrow projection (codegen'd least/pow) plus one small "
        "aggregate — the age cut compares to a driver-resolved literal so "
        "it pushes into the scan. Ref: router/worker.go:1053, router/utils"
    ),
    tags=("rudder", "streaming"),
)
def q38(spark, sf):
    from rudder_server_spark.operators.router import retry_backoff

    e = _events(spark, sf)
    m = e.agg(F.max("ts")).head()[0]  # bounded metadata (parquet footer max)
    failed = e.where(F.col("event_type") == "error").withColumn(
        "attempt", (F.lit(1) + (F.col("event_id") % 5)).cast("int")
    )
    sched = retry_backoff(
        failed, attempt_col="attempt", ts_col="ts", now=F.lit(m),
        initial_s=30, max_backoff_s=300, max_attempts=3, max_age_days=20,
    )
    return (
        sched.groupBy(
            "attempt",
            F.when(F.col("aborted"), "aborted").otherwise("waiting_retry").alias("state"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.when(~F.col("aborted"), F.col("next_retry_at"))).alias("min_next_retry"),
            F.max(F.when(~F.col("aborted"), F.col("next_retry_at"))).alias("max_next_retry"),
        )
        .orderBy("attempt", "state")
    )


# --------------------------------------------------------------------------
# Q39 one-pass column profile (A9 observability / dataset card): per-column
# null counts, exact cardinality and min/max over the whole events table in
# a single scan — `stack` unpivot + one grouped agg (operators/profile.py;
# the 100 TB default swaps exact count_distinct for approx_count_distinct).
# Reference analog: schema sampling + reporting (processor.go:2082-2101).
@register(
    "q39_column_profile",
    """
    SELECT 'event_id' AS col_name, count(CAST(event_id AS VARCHAR)) AS n_nonnull,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT CAST(event_id AS VARCHAR)) AS n_distinct,
           min(CAST(event_id AS VARCHAR)) AS min_s, max(CAST(event_id AS VARCHAR)) AS max_s
    FROM events
    UNION ALL
    SELECT 'ts', count(CAST(ts AS VARCHAR)), CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT CAST(ts AS VARCHAR)), min(CAST(ts AS VARCHAR)), max(CAST(ts AS VARCHAR))
    FROM events
    UNION ALL
    SELECT 'user_id', count(CAST(user_id AS VARCHAR)), CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT CAST(user_id AS VARCHAR)), min(CAST(user_id AS VARCHAR)), max(CAST(user_id AS VARCHAR))
    FROM events
    UNION ALL
    SELECT 'event_type', count(event_type), CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT event_type), min(event_type), max(event_type)
    FROM events
    UNION ALL
    SELECT 'value', count(CAST(value AS VARCHAR)), CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT CAST(value AS VARCHAR)), min(CAST(value AS VARCHAR)), max(CAST(value AS VARCHAR))
    FROM events
    UNION ALL
    SELECT 'props', count(props), CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT props), min(props), max(props)
    FROM events
    ORDER BY col_name
    """,
    doc=(
        "One-pass column profile (dataset card): stack-unpivot inside the "
        "scan + one grouped agg — ONE read of the table where the oracle "
        "(and a naive engine) runs one scan per column. Exact distinct for "
        "the gate; approx_count_distinct is the 100 TB default. "
        "Ref: processor.go:2082-2101 schema sampling"
    ),
    tags=("rudder", "aggregation"),
)
def q39(spark, sf):
    from rudder_server_spark.operators.profile import profile_columns

    # single-row-group driver fixture: the stack generator + per-(col,val)
    # partial aggregate otherwise run as ONE task (fan_out no-ops on any
    # multi-row-group corpus); A/B 0.71->0.65 s warm at sf0.1
    e = fan_out(
        _events(spark, sf), spark, paths=[os.path.join(sf, "events.parquet")]
    )
    return profile_columns(e, exact=True).orderBy("col_name")


# --------------------------------------------------------------------------
# Q40 TPC-H Q5-shaped multi-join (§2.4 J7 at depth): six-table star join —
# the canonical join-order / broadcast test. Only region+nation are
# HINT-broadcast (bounded at 5/25 rows at every SF); customer and supplier
# GROW with SF, so their joins stay key-equi and AQE downgrades them to
# broadcast at runtime while they fit (as at any tested SF) — at extreme
# SF they become co-partitioned shuffle joins instead of OOMing the
# executors with a forced build side. lineitem ⋈ orders is the one
# always-big join, on the shared orderkey.
@register(
    "q40_tpch_q5",
    """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    doc=(
        "TPC-H Q5: local-supplier revenue per nation for one region-year. "
        "Dims broadcast, single big-big shuffle join on orderkey."
    ),
)
def q40(spark, sf):
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(nr), s.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Q41 strict-order funnel — the downstream analytics query event pipelines
# exist to feed (view → click-after-view → purchase-after-click, per user).
# Each step is a per-user min-ts aggregate constrained to follow the prior
# step. Step frames shrink monotonically but are per-USER (unbounded at
# 1e9 users), so they are NOT hint-broadcast: every join keys on user_id —
# the same partitioning as the step aggregates, so co-partitioned SMJ at
# scale — and AQE downgrades to broadcast at runtime when a frame is
# actually small (as it is below ~100M users).
@register(
    "q41_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, count(*) AS users FROM v
    UNION ALL SELECT 'step2_click', count(*) FROM c
    UNION ALL SELECT 'step3_purchase', count(*) FROM p
    ORDER BY step
    """,
    doc=(
        "Strict-order funnel: users reaching view, click-after-view, "
        "purchase-after-click. Step frames shrink monotonically — one "
        "user_id shuffle then broadcast joins."
    ),
    tags=("aggregation", "windows"),
)
def q41(spark, sf):
    e = _events(spark, sf)

    def step(prev, etype):
        src = e.where(F.col("event_type") == etype)
        if prev is not None:
            # user-keyed equi-join: co-partitions with the step aggregates;
            # AQE broadcasts at runtime when the frame is small enough
            src = src.join(
                prev.select("user_id", F.col("t").alias("_pt")), "user_id"
            ).where(F.col("ts") > F.col("_pt"))
        return src.groupBy("user_id").agg(F.min("ts").alias("t"))

    v = step(None, "view")
    c = step(v, "click")
    p = step(c, "purchase")
    parts = [
        v.agg(F.count("*").alias("users")).select(F.lit("step1_view").alias("step"), "users"),
        c.agg(F.count("*").alias("users")).select(F.lit("step2_click").alias("step"), "users"),
        p.agg(F.count("*").alias("users")).select(F.lit("step3_purchase").alias("step"), "users"),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out.orderBy("step")


# --------------------------------------------------------------------------
# Q42 weekly cohort retention — cohort = first-seen week; cell = distinct
# users of that cohort active k weeks later. The cohort map is one row per
# USER (unbounded at scale), so the join back is a user_id-keyed equi-join
# sharing the assignment aggregate's partitioning — AQE broadcasts at
# runtime only when the map is actually small; the final distinct count is
# keyed on (cohort_week, offset) with bounded output.
@register(
    "q42_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, CAST(date_trunc('week', ts) AS DATE)) / 7 AS INT)
             AS week_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    doc=(
        "Weekly cohort retention matrix: distinct users of each first-seen "
        "cohort active k weeks later. Cohort map is a tiny broadcast; the "
        "distinct count is the only full shuffle."
    ),
    tags=("aggregation", "windows"),
)
def q42(spark, sf):
    e = _events(spark, sf)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        e.join(first_seen, "user_id")
        .withColumn(
            "week_offset",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week")) / 7
            ).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Q43 TPC-H Q14-shaped promo revenue share — lineitem ⋈ part, monthly
# share of promo revenue for one year. part GROWS with SF, so no
# broadcast hint: the join keys on partkey and AQE broadcasts at runtime
# while part fits (any tested SF), falling back to a co-partitioned
# shuffle join at extreme scale. The ratio
# divides two EXACT decimal sums (order-independent), so the double result
# is bit-stable across engines; the month bucket keeps output bounded.
@register(
    "q43_tpch_q14",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END)
             / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),
             4) AS DOUBLE) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY ship_month ORDER BY ship_month
    """,
    doc=(
        "TPC-H Q14: monthly promo revenue share. Part dim broadcasts; one "
        "shuffle on the month bucket (bounded groups)."
    ),
)
def q43(spark, sf):
    l = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4)
            .cast("double")
            .alias("promo_share_pct")
        )
        .orderBy("ship_month")
    )


# --------------------------------------------------------------------------
# Q44 pivot — §2.5's reshaping surface: daily event counts pivoted to one
# column per event type. Pivot values are PINNED (the 5 known types), which
# is what makes the schema static and the plan a single grouped aggregate —
# an unpinned pivot pays an extra distinct-values job before planning, the
# thing to avoid at 100 TB.
@register(
    "q44_pivot_daily_counts",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY day ORDER BY day
    """,
    doc=(
        "Daily counts pivoted per event type with pinned pivot values "
        "(static schema, one grouped agg, no distinct-discovery job)."
    ),
    tags=("aggregation",),
)
def q44(spark, sf):
    e = _events(spark, sf)
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", types)
        .count()
        .orderBy("day")
    )
    # pivot emits nullable longs; absent cells are 0 in the CASE-sum oracle
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


# --------------------------------------------------------------------------
# Q46 CDC apply — the jobsdb status log generalized: a change stream of
# I(nsert)/U(pdate)/D(elete) ops keyed by user collapses to final state by
# LATEST op per key, with deletes erasing the row (jobsdb.go:489-521 state
# machine terminality; q33's merge-load is the delete-free special case).
# One shuffle on the key; at 100 TB this is the standard snapshot-compaction
# pass over a CDC log (Delta/Hudi MERGE semantics on plain parquet).
@register(
    "q46_cdc_apply",
    """
    WITH ops AS (
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op,
             value, ts, event_id
      FROM events WHERE event_type IN ('signup', 'click', 'error')
    ),
    latest AS (
      SELECT user_id, op, value, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM ops
    )
    SELECT user_id, op AS last_op,
           CAST(ROUND(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS value, ts
    FROM latest WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
    doc=(
        "CDC log → snapshot: latest op per key wins, deletes erase the "
        "row. One shuffle on the key — the compaction pass a CDC sink "
        "runs over plain parquet (Delta MERGE semantics incl. delete)."
    ),
    tags=("rudder", "joins"),
)
def q46(spark, sf):
    e = _events(spark, sf)
    ops = e.where(F.col("event_type").isin("signup", "click", "error")).select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value", "ts", "event_id",
    )
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.round(F.col("value").cast("decimal(18,6)"), 2).cast("double").alias("value"),
            "ts",
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Q47 hopping windows — §2.6 native `window()` with a slide: 10-minute
# windows every 5 minutes, so each event lands in exactly two windows (the
# streaming-compatible windowed-agg shape; same expression runs under
# readStream + watermark unchanged). The oracle unnests each event into
# its two window starts — the relational definition of the hop.
@register(
    "q47_hopping_windows",
    """
    SELECT wstart, count(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM (
      SELECT unnest([
               make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000),
               make_timestamp((CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - 300) * 1000000)
             ]) AS wstart,
             value
      FROM events WHERE event_type = 'purchase'
    )
    GROUP BY wstart ORDER BY wstart
    """,
    doc=(
        "Hopping windows (10 min window, 5 min slide) over purchases: "
        "each event contributes to exactly two windows; the identical "
        "expression is streaming-ready under a watermark."
    ),
    tags=("windows", "streaming"),
)
def q47(spark, sf):
    e = _events(spark, sf)
    return (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n", "sum_value")
        .orderBy("wstart")
    )


# --------------------------------------------------------------------------
# Q50 within-session funnel — q29's gap sessions composed with q41's
# ordered steps: a session converts when it contains view → click →
# purchase IN ORDER inside the session. Ordered-subsequence detection is
# three conditional min-aggregates per session (min view, min click after
# that view, min purchase after that click) — same single (user_id)
# partitioning as the sessionizer, so the whole query is ONE shuffle plus
# bounded rollups.
@register(
    "q50_session_funnel",
    """
    WITH marks AS (
      SELECT user_id, event_id, ts, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM marks
    ),
    steps AS (
      SELECT user_id, sess_no,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v
      FROM sess GROUP BY user_id, sess_no
    ),
    steps2 AS (
      SELECT s.user_id, s.sess_no, steps.v,
             min(CASE WHEN s.event_type = 'click' AND s.ts > steps.v THEN s.ts END) AS c
      FROM sess s JOIN steps ON s.user_id = steps.user_id AND s.sess_no = steps.sess_no
      GROUP BY s.user_id, s.sess_no, steps.v
    ),
    steps3 AS (
      SELECT s.user_id, s.sess_no, steps2.v, steps2.c,
             min(CASE WHEN s.event_type = 'purchase' AND s.ts > steps2.c THEN s.ts END) AS p
      FROM sess s JOIN steps2 ON s.user_id = steps2.user_id AND s.sess_no = steps2.sess_no
      GROUP BY s.user_id, s.sess_no, steps2.v, steps2.c
    )
    SELECT count(*) AS sessions,
           CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_view,
           CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS view_then_click,
           CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS full_conversion
    FROM steps3
    """,
    doc=(
        "Within-session ordered funnel: sessions containing view → click → "
        "purchase in order. One (user_id) shuffle shared by the sessionizer "
        "windows; step detection is conditional min-aggregates."
    ),
    tags=("windows", "aggregation"),
)
def q50(spark, sf):
    e = _events(spark, sf)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.make_dt_interval(F.lit(0), F.lit(0), F.lit(30), F.lit(0.0))
    sess = (
        e.withColumn(
            "new_sess",
            F.when(
                F.lag("ts").over(w).isNull()
                | ((F.col("ts") - F.lag("ts").over(w)) > gap),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess_no", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    # step 1: min view ts per session (window keeps the (user) partitioning)
    sw = W.partitionBy("user_id", "sess_no")
    v = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(sw)
    with_v = sess.withColumn("v", v)
    c = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("v")), F.col("ts"))
    ).over(sw)
    with_c = with_v.withColumn("c", c)
    p = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c")), F.col("ts")
        )
    ).over(sw)
    per_sess = (
        with_c.withColumn("p", p)
        .groupBy("user_id", "sess_no")
        .agg(F.first("v").alias("v"), F.first("c").alias("c"), F.first("p").alias("p"))
    )
    return per_sess.agg(
        F.count("*").alias("sessions"),
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0)).alias("with_view"),
        F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0)).alias("view_then_click"),
        F.sum(F.when(F.col("p").isNotNull(), 1).otherwise(0)).alias("full_conversion"),
    )


# --------------------------------------------------------------------------
# Q52 grouping sets — §2.5's multi-granularity aggregate in its general
# form (q21's ROLLUP is the prefix special case; q17's fan-out counts use
# the same Expand internally): one pass over events producing (type, day),
# (type), and (day) granularities with grouping flags distinguishing the
# null-key rows from genuine nulls. Expand multiplies rows by the set
# count BEFORE the shuffle, but partial aggs combine map-side — still one
# exchange at 100 TB.
@register(
    "q52_grouping_sets",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           GROUPING(event_type) AS g_type,
           GROUPING(date_trunc('day', ts)) AS g_day,
           count(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, date_trunc('day', ts)),
                            (event_type), (date_trunc('day', ts)))
    ORDER BY g_type, g_day, event_type NULLS FIRST, day NULLS FIRST
    """,
    doc=(
        "GROUPING SETS over (type, day) / (type) / (day) with grouping "
        "flags — one Expand + one exchange, map-side partial aggs."
    ),
    tags=("aggregation",),
)
def q52(spark, sf):
    e = _events(spark, sf).withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    out = (
        e.groupingSets(
            [["event_type", "day"], ["event_type"], ["day"]],
            "event_type", "day",
        )
        .agg(
            F.grouping("event_type").cast("bigint").alias("g_type"),
            F.grouping("day").cast("bigint").alias("g_day"),
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select("event_type", "day", "g_type", "g_day", "n", "sum_value")
    )
    return out.orderBy(
        "g_type", "g_day",
        F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first(),
    )


# --------------------------------------------------------------------------
# Q54 TPC-H Q17-shaped correlated aggregate — "small-quantity orders":
# lineitems below 20% of their part's average quantity, for one brand. The
# relational shape §2.11 lacked: a per-group aggregate re-joined against
# the detail rows it was computed from (DuckDB plans it as a correlated
# scalar subquery; Spark as an explicit pre-aggregate + equi-join).
@register(
    "q54_tpch_q17",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem ll WHERE ll.l_partkey = l.l_partkey
      )
    """,
    doc=(
        "TPC-H Q17: revenue of below-one-fifth-of-average-quantity orders "
        "for one brand. The per-part average is computed ONLY over the "
        "brand's parts (semi-join pushes the part filter into the "
        "aggregate — at 100 TB this is the difference between aggregating "
        "every part's lineitems and ~1/25 of them), then joined back to "
        "the detail rows; the bounded part dim broadcasts to both sides. "
        "l_quantity is integral so the double average is order-exact on "
        "both engines."
    ),
)
def q54(spark, sf):
    l = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    rel = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    thr = rel.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_thr")
    )
    return (
        rel.join(thr, "l_partkey")
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q55 RANGE-frame rolling window — per-user rolling 1-hour event count and
# value sum, the time-interval frame (§2.6 beyond ROWS) that rate/volume
# monitors compute. RANGE BETWEEN means peers at the same second share a
# frame on both engines; the value sum goes through DECIMAL so sliding
# accumulation order cannot skew the doubles.
@register(
    "q55_rolling_1h",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS roll_cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS roll_sum
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
    ORDER BY event_id
    """,
    doc=(
        "Per-user rolling 1-hour count + sum via a RANGE interval frame "
        "(time-based, not row-based): one exchange on user_id, one sort, "
        "incremental frame evaluation — the per-key rate-monitor shape."
    ),
)
def q55(spark, sf):
    e = _events(spark, sf)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count("*").over(w).alias("roll_cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
            .cast("double")
            .alias("roll_sum"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Q56 hot-key salted aggregation — events has only a handful of event_type
# values, so a naive groupBy funnels the whole corpus through ~6 reducers.
# The salted two-phase shape (operators/skew.py) spreads each hot key over
# 16 salt buckets first; the final aggregate moves 16 pre-aggregated rows
# per key. Results are salt-layout-independent (counts/sums re-fold), so
# the oracle is the plain GROUP BY.
@register(
    "q56_hotkey_agg",
    """
    SELECT event_type, count(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS value_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Per-event-type counts + value sums via explicit two-phase salted "
        "aggregation: partial agg on (key, salt in [0,16)), final fold on "
        "key — the hot-key shape AQE cannot fix for hash aggregates "
        "(skew-join splitting only covers joins). Decimal sums keep the "
        "fold order-exact, so salting never changes the result."
    ),
    tags=("aggregation", "skew"),
)
def q56(spark, sf):
    from rudder_server_spark.operators.skew import with_salt

    e = _events(spark, sf)
    partial = (
        with_salt(e, 16)
        .groupBy("event_type", "_salt")
        .agg(
            F.count("*").alias("_pc"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_ps"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("_pc").cast("bigint").alias("n"),
            F.round(F.sum("_ps"), 2).cast("double").alias("value_sum"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q57 upload-window scheduling — §2.10 tumbling sync windows under the
# oracle gate: every event assigned to its destination's upload window
# (per-destination syncFrequency anchored at syncStartAt,
# warehouse/router/scheduling.go:28-192), with the window flagged when it
# opens inside the destination's exclusion band (incl. a midnight-wrapping
# band). Configs are bounded control-plane rows → broadcast nested-loop;
# the window arithmetic is pure codegen'd epoch math.
@register(
    "q57_upload_windows",
    """
    WITH c(dest, freq, start_min, es, ee) AS (
      VALUES ('wh_a', 60, 0, 2, 4), ('wh_b', 30, 15, 22, 1)
    ),
    j AS (
      SELECT dest,
             make_timestamp(CAST((floor((floor(epoch(ts)) - start_min*60) / (freq*60)) * (freq*60) + start_min*60) * 1000000 AS BIGINT)) AS window_start
      FROM events CROSS JOIN c
    )
    SELECT dest, window_start, count(*) AS n,
           CASE WHEN dest = 'wh_a'
                THEN NOT (hour(window_start) >= 2 AND hour(window_start) < 4)
                ELSE NOT (hour(window_start) >= 22 OR hour(window_start) < 1)
           END AS upload_allowed
    FROM j GROUP BY dest, window_start ORDER BY dest, window_start
    """,
    doc=(
        "Per-destination upload windows: event counts per (destination, "
        "sync window) with exclusion-band flagging — the scheduling "
        "statistic the warehouse router derives before picking staging "
        "batches. Column-parameterized window math (per-row frequency), "
        "broadcast config join."
    ),
    tags=("rudder", "windows"),
)
def q57(spark, sf):
    from rudder_server_spark.operators.reporting import (
        in_exclude_window_expr,
        sync_window_start_expr,
    )

    configs = local_frame(spark,
        [("wh_a", 60, 0, 2, 4), ("wh_b", 30, 15, 22, 1)],
        "dest string, freq int, start_min int, es int, ee int",
    )
    e = _events(spark, sf)
    j = e.crossJoin(F.broadcast(configs))
    ws = sync_window_start_expr(F.col("ts"), F.col("freq"), F.col("start_min"))
    j = j.select("dest", ws.alias("window_start"), "es", "ee")
    return (
        j.groupBy("dest", "window_start")
        .agg(
            F.count("*").alias("n"),
            (~F.max(in_exclude_window_expr(F.col("window_start"), F.col("es"), F.col("ee")))).alias(
                "upload_allowed"
            ),
        )
        .orderBy("dest", "window_start")
    )


# --------------------------------------------------------------------------
# Q58 capped ordered pickup — the jobsdb wrap-query (§2.7,
# jobsdb_get.go:550-570): jobs in id order, stopping once the CUMULATIVE
# event count reaches the cap, with one extra row kept so a single
# oversized job still returns. The global running sum is fine here by
# construction — pickup operates on one bounded dataset page (≤100k rows
# by the rotation policy), never the whole corpus; dataset pruning
# happens before this operator.
@register(
    "q58_capped_pickup",
    """
    SELECT event_id, ec FROM (
      SELECT event_id, ec,
             SUM(ec) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM (SELECT event_id, 1 + event_id % 5 AS ec FROM events)
    ) WHERE running - ec < 20000
    ORDER BY event_id
    """,
    doc=(
        "Ordered pickup with a cumulative event-count cap (20k): the "
        "batch-size guard every jobsdb read applies; one-extra-row "
        "semantics so an oversized first job still returns. Operates on a "
        "bounded dataset page by construction (see comment)."
    ),
    tags=("jobsdb", "sorts"),
)
def q58(spark, sf):
    from rudder_server_spark.sources.jobsdb import ordered_pickup

    e = _events(spark, sf).select(
        "event_id", (1 + F.col("event_id") % 5).alias("ec")
    )
    return ordered_pickup(
        e, job_id="event_id", event_count_col="ec", max_events=20000
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Q59 consent filter under the oracle gate (F8, consent.go:44-230): each
# event carries denied consent categories (derived deterministically from
# its payload here — real events carry them in context.consentManagement);
# the destination consents to ['ads','functional']. Event-destination
# pairs whose denied set overlaps the destination's categories drop; the
# query audits kept/dropped per event_type. Pure column predicate — no
# shuffle beyond the final grouped count.
@register(
    "q59_consent_filter",
    """
    SELECT event_type,
           CAST(SUM(CASE WHEN NOT ov THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN ov THEN 1 ELSE 0 END) AS BIGINT) AS dropped
    FROM (
      SELECT event_type,
             len(list_intersect(
               CASE CAST(json_extract(props, '$.k') AS INT) % 4
                 WHEN 0 THEN ['ads']
                 WHEN 1 THEN ['analytics', 'ads']
                 WHEN 2 THEN CAST([] AS VARCHAR[])
                 ELSE ['marketing']
               END,
               ['ads', 'functional'])) > 0 AS ov
      FROM events
    )
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Consent-category filter audit: kept vs dropped per event_type "
        "for a destination consenting to ['ads','functional'], denied "
        "sets derived per event. arrays_overlap predicate, codegen'd."
    ),
    tags=("filters",),
)
def q59(spark, sf):
    from rudder_server_spark.operators.filters import consent_filter

    e = _events(spark, sf)
    k4 = F.get_json_object("props", "$.k").cast("int") % 4
    denied = (
        F.when(k4 == 0, F.array(F.lit("ads")))
        .when(k4 == 1, F.array(F.lit("analytics"), F.lit("ads")))
        .when(k4 == 2, F.array().cast("array<string>"))
        .otherwise(F.array(F.lit("marketing")))
    )
    tagged = e.select(
        "event_type",
        denied.alias("denied_consent_ids"),
        F.array(F.lit("ads"), F.lit("functional")).alias("consent_category_ids"),
    )
    kept = consent_filter(tagged).groupBy("event_type").agg(
        F.count("*").alias("kept")
    )
    total = tagged.groupBy("event_type").agg(F.count("*").alias("_n"))
    return (
        total.join(kept, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("kept", F.lit(0)).alias("kept"),
            (F.col("_n") - F.coalesce("kept", F.lit(0))).alias("dropped"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q60 TPC-H Q4-shaped EXISTS semi-join: orders in a window that have at
# least one late-shipping lineitem, counted by priority. The EXISTS
# decorrelates to a LEFT SEMI join on orderkey with the ship>order
# inequality as a join residual — no aggregation or dedup of the big
# lineitem side is ever materialized, and the o_orderdate range filter
# reaches the parquet scan before the shuffle. At 100 TB both sides
# shuffle once on orderkey (or colocate for free on bucketed layouts,
# sources/bucketed.py).
@register(
    "q60_tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "TPC-H Q4: priority distribution of 1996 orders with a "
        "later-than-order-date shipment. EXISTS = left-semi join with an "
        "inequality residual on the equi-shuffled orderkey."
    ),
    tags=("relational", "joins"),
)
def q60(spark, sf):
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q61 TPC-H Q13-shaped distribution: how many customers placed k
# non-urgent orders, including k=0 — the canonical outer-join +
# double-aggregate histogram. The ON-clause predicate filters the orders
# side BEFORE the left join (equivalent semantics, and it pushes to the
# scan); first aggregate shuffles on custkey (co-partitioned with the
# join), second aggregate reduces the per-customer counts — already tiny
# (one row per customer → one row per distinct k) — so the second
# exchange moves ~KB at any SF.
@register(
    "q61_tpch_q13",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    doc=(
        "TPC-H Q13: customer distribution by non-urgent order count, "
        "zero-order customers included via the left join."
    ),
    tags=("relational", "aggregation"),
)
def q61(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q62 TPC-H Q18-shaped large-order pickout: orders whose total quantity
# exceeds a threshold, joined back to customer detail — the
# HAVING-subquery-as-semi-join pattern. The qualifying-key aggregate and
# the detail join both key on l_orderkey/o_orderkey, so the plan reuses
# ONE exchange partitioning for the heavy side (AQE sees the shared
# hash); the qualifier output (rare keys) broadcasts at runtime. Top-100
# is TakeOrderedAndProject — per-partition heaps, no global sort.
@register(
    "q62_tpch_q18",
    """
    SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    GROUP BY c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
    doc=(
        "TPC-H Q18: customers with orders totalling >150 units. "
        "HAVING-filtered key set applied as a semi join on the shared "
        "orderkey partitioning; bounded top-100 output."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q62(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .where(F.col("_sq") > 150)
        .select("l_orderkey")
    )
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q63 TPC-H Q22-shaped dormant-rich-customer audit: customers with
# above-average balance and NO orders, rolled up per nation. Two classic
# shapes in one plan: a scalar aggregate subquery (1-row frame,
# broadcast cross join — never a shuffle) and NOT EXISTS as a LEFT ANTI
# join against the big orders table (shuffles once on custkey; the anti
# side only carries the join key, pruned at the scan).
@register(
    "q63_tpch_q22",
    """
    WITH ab AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    doc=(
        "TPC-H Q22: above-average-balance customers with no orders, per "
        "nation. Scalar subquery broadcasts; NOT EXISTS is a left-anti "
        "join keyed on custkey."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q63(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select("o_custkey")
    ab = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Q64 TPC-H Q10-shaped returned-revenue ranking: per-customer revenue
# lost to returns in a half-year, with nation detail, top 20. The
# l_returnflag + o_orderdate filters both reach their parquet scans
# (row-group stats skip on the date-clustered layout); nation is a
# bounded broadcast dim; orders⋈lineitem is the one big shuffle on
# orderkey, then one agg shuffle on custkey that the customer join
# reuses. Top-20 via TakeOrderedAndProject.
@register(
    "q64_tpch_q10",
    """
    SELECT c.c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c.c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc=(
        "TPC-H Q10: top-20 customers by returned revenue in 1996H1. "
        "Pushed scans, broadcast nation, orderkey shuffle reused by the "
        "custkey aggregate."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q64(spark, sf):
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    l = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q66 TPC-H Q15-shaped top-supplier argmax: revenue per supplier for a
# quarter, keep the supplier(s) hitting the GLOBAL max — the scalar-MAX-
# subquery-with-ties shape (DISTINCT ON / argmax without a window). The
# revenue aggregate shuffles once on suppkey; the global max reduces that
# bounded frame to ONE row which broadcasts back (never a shuffle of the
# aggregate for the comparison); supplier detail joins on the handful of
# winners. Rounding before the max compare keeps the tie set
# deterministic across engines.
@register(
    "q66_tpch_q15",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    doc=(
        "TPC-H Q15: supplier(s) with the maximum quarterly revenue. "
        "Scalar MAX subquery over the bounded per-supplier aggregate, "
        "broadcast back; ties kept."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q66(spark, sf):
    s = load_table(spark, sf, "supplier")
    l = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = rev.join(F.broadcast(mx), rev.total_revenue == mx._mx, "inner")
    return (
        s.join(top, s.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q67 TPC-H Q6-shaped forecast filter-agg: the zero-shuffle plan — every
# predicate reaches the parquet scan (PushedFilters on shipdate /
# discount / quantity), one scalar partial-agg per task, one single-row
# final reduce. The plan to beat at 100 TB is "scan only the row groups
# the date range touches and never exchange anything".
@register(
    "q67_tpch_q6",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    doc=(
        "TPC-H Q6: revenue delta from discount forecast. All predicates "
        "pushed to the scan; scalar aggregate, zero shuffles."
    ),
    tags=("relational", "aggregation"),
)
def q67(spark, sf):
    l = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Q68 TPC-H Q19-shaped disjunctive-predicate join: revenue over an
# OR-of-ANDs across both join sides (brand+size on part, quantity on
# lineitem). The canonical partial-pushdown test: the per-side
# implications (brand IN (...), size ≤ 35, quantity ≤ 13) prune each
# scan BEFORE the partkey join, and the full disjunction evaluates as
# the join residual. part is SF-growing → no broadcast hint, AQE
# decides.
@register(
    "q68_tpch_q19",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity BETWEEN 2 AND 12)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35 AND l.l_quantity BETWEEN 3 AND 13)
    """,
    doc=(
        "TPC-H Q19: disjunctive brand/size/quantity revenue. Per-side "
        "implied predicates prune the scans; the OR-of-ANDs is the join "
        "residual."
    ),
    tags=("relational", "joins"),
)
def q68(spark, sf):
    l = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(2, 12)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(3, 13)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q70 workspace-fair pickup — the isolation-mode scheduling shape
# (processor/isolation, router per-workspace workers; jobsdb pickup
# iterates workspaces so one hot tenant cannot starve the rest): jobs
# rank WITHIN their workspace (one workspace-keyed window shuffle), then
# the global pick orders by (rank, workspace) — a round-robin interleave
# — under a total cap. The cap is TakeOrderedAndProject (per-partition
# heaps), never a global sort; at 1e9 jobs the only full-corpus exchange
# is the per-workspace window.
@register(
    "q70_fair_pickup",
    """
    WITH j AS (
      SELECT event_id, 'ws-' || CAST(user_id % 5 AS VARCHAR) AS ws
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT event_id, ws,
             row_number() OVER (PARTITION BY ws ORDER BY event_id) AS rnk
      FROM j
    ),
    pick AS (SELECT * FROM r ORDER BY rnk, ws, event_id LIMIT 1000)
    SELECT ws, count(*) AS n, min(event_id) AS first_id, max(event_id) AS last_id
    FROM pick GROUP BY ws ORDER BY ws
    """,
    doc=(
        "Fair pickup across workspaces: per-workspace rank, global "
        "(rank, workspace) interleave capped at 1000 — one tenant's "
        "backlog cannot starve the others. Ref: processor/isolation, "
        "router worker partitioning."
    ),
    tags=("jobsdb", "sorts"),
)
def q70(spark, sf):
    e = _events(spark, sf).where(F.col("user_id").isNotNull())
    j = e.select(
        "event_id", F.concat(F.lit("ws-"), (F.col("user_id") % 5).cast("string")).alias("ws")
    )
    w = W.partitionBy("ws").orderBy("event_id")
    pick = (
        j.withColumn("rnk", F.row_number().over(w))
        .orderBy("rnk", "ws", "event_id")
        .limit(1000)
    )
    return (
        pick.groupBy("ws")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_id"),
            F.max("event_id").alias("last_id"),
        )
        .orderBy("ws")
    )


# --------------------------------------------------------------------------
# Q71 TPC-H Q7-shaped bilateral volume shipping: revenue between two
# nations by direction and year. The nation dimension joins TWICE
# (supplier side + customer side) with the (n1,n2)|(n2,n1) pair filter
# as a residual — both copies broadcast (25 rows at any SF); year
# extraction is a codegen'd date_part on the already-filtered rows. The
# only big shuffles are lineitem⋈orders (orderkey) and the customer
# join (custkey).
@register(
    "q71_tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(CAST(volume AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc=(
        "TPC-H Q7: two-nation shipping volume by direction and "
        "year. Nation broadcasts twice; the pair predicate is the join "
        "residual."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q71(spark, sf):
    s = load_table(spark, sf, "supplier")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    l = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    n1 = n.select(F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q72 TPC-H Q8-shaped market share: one nation's share of a region's
# revenue for one part type, by order year — the conditional-share
# aggregate (sum(CASE)/sum) over the widest join in the suite (part,
# lineitem, orders, customer, supplier, nation x2, region). part is
# filtered on p_type BEFORE the join (the selective probe side);
# nation/region broadcast; supplier's nation only labels the numerator.
# Shares divide two already-aggregated decimals — exact, then rounded.
@register(
    "q72_tpch_q8",
    """
    SELECT o_year,
           CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                      / SUM(volume), 6) AS DOUBLE) AS mkt_share,
           count(*) AS n_lines
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    GROUP BY o_year ORDER BY o_year
    """,
    doc=(
        "TPC-H Q8: NATION_3's share of ASIA revenue for PROMO parts per "
        "year. Conditional-share aggregate over the widest star join; "
        "dims broadcast, selective part filter before the join."
    ),
    tags=("relational", "joins", "aggregation"),
)
def q72(spark, sf):
    p = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO")
    l = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("_nk2")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    base = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"), "left_semi")
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0)))
    return (
        base.groupBy("o_year")
        .agg(
            F.round(num / F.sum("volume"), 6).cast("double").alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q76 scale-safe rank — q22's price_rank (3 distinct o_orderstatus values)
# recomputed with the two-pass range-partitioned form: a plain
# rank() OVER (PARTITION BY o_orderstatus ...) plans ONE sort task per
# status — fine in the declared q22 shape at fixture scale, a 3-task
# sort of the corpus at 100 TB. scalable_rank keeps ties exact while
# every executor sorts only its range slice (operators/ranking.py).
@register(
    "q76_scalable_rank",
    """
    SELECT o_orderkey, o_orderstatus,
           rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders ORDER BY o_orderkey
    """,
    doc=(
        "Exact per-status price rank via the two-pass range-partitioned "
        "form (local rank + bounded per-(task, group) offsets, broadcast "
        "back) — identical output to the one-task-per-group window, "
        "wall-clock bounded by the slice, not the biggest group."
    ),
    tags=("windows", "scale"),
)
def q76(spark, sf):
    from rudder_server_spark.operators.ranking import scalable_rank

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ranked = scalable_rank(
        o,
        order_cols=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        group_cols=["o_orderstatus"],
        rank_col="price_rank",
    )
    return ranked.select("o_orderkey", "o_orderstatus", "price_rank").orderBy(
        "o_orderkey"
    )


# --------------------------------------------------------------------------
# Q78/Q79 — the two downstream queries the reference's event tables exist to
# serve (tracks/event-table fan-out feeds a warehouse whose consumers run
# funnels and retention; processor fan-out P8, warehouse schema 1.3).
@register(
    "q78_funnel",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.t1) AS t1
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 604800 SECOND
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t1 + INTERVAL 604800 SECOND
      GROUP BY 1
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             CAST(count(*) AS BIGINT) AS users FROM s1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
    ) ORDER BY step_idx
    """,
    doc=(
        "First-touch ordered funnel view→click→purchase inside a 7-day "
        "window: per-step min-ts cascade, every stage co-partitioned on "
        "user_id with pushed event_type filters."
    ),
    tags=("analytics", "events"),
)
def q78(spark, sf):
    from rudder_server_spark.operators.funnel import funnel_steps

    e = load_table(spark, sf, "events")
    return funnel_steps(
        e, ["view", "click", "purchase"], window_seconds=7 * 24 * 3600
    )


@register(
    "q79_retention",
    """
    WITH cohort AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    act AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM act a JOIN cohort c USING (user_id)
    WHERE week >= cohort_week
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=(
        "Weekly signup-cohort retention matrix: cohort map is one row per "
        "converting user (broadcast-eligible), activity join keyed on "
        "user_id, single-distinct two-phase aggregate (no Expand)."
    ),
    tags=("analytics", "events"),
)
def q79(spark, sf):
    from rudder_server_spark.operators.funnel import retention_cohorts

    e = load_table(spark, sf, "events")
    return retention_cohorts(e, cohort_event="signup")


@register(
    "q80_anomaly_hours",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd FROM h GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.n, ROUND((h.n - s.mu) / s.sd, 3) AS z
    FROM h JOIN s USING (event_type)
    WHERE s.sd > 0 AND abs((h.n - s.mu) / s.sd) > 3.0
    ORDER BY h.event_type, h.hour
    """,
    doc=(
        "Hourly volume-spike detection per event type (|z| > 3 vs the "
        "type's own hourly distribution): partial-agg rollup, one-row-"
        "per-type stats broadcast back — the reporting-pipeline ops "
        "alert."
    ),
    tags=("analytics", "reporting"),
)
def q80(spark, sf):
    from rudder_server_spark.operators.reporting import hourly_anomalies

    e = load_table(spark, sf, "events")
    return hourly_anomalies(e)


@register(
    "q81_attribution",
    """
    WITH p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type, event_id FROM events
      WHERE event_type IN ('view', 'click')
    ),
    att AS (
      SELECT p.value,
             COALESCE(
               (SELECT t.event_type FROM t
                WHERE t.user_id = p.user_id AND t.ts < p.ts
                  AND t.ts >= p.ts - INTERVAL 86400 SECOND
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1),
               'direct') AS channel
      FROM p
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS conversions,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM att GROUP BY channel ORDER BY channel
    """,
    doc=(
        "Last-touch attribution with a 1-day lookback: the as-of join "
        "(union + one user-keyed sorted window) replaces the oracle's "
        "per-conversion lateral probe; revenue rolls up in DECIMAL so "
        "the sum is order-independent."
    ),
    tags=("analytics", "events"),
)
def q81(spark, sf):
    from rudder_server_spark.operators.funnel import last_touch_attribution

    e = load_table(spark, sf, "events")
    return last_touch_attribution(e)


@register(
    "q82_transitions",
    """
    WITH steps AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             event_type AS next_type
      FROM events
    )
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM steps WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=(
        "Per-user event-type transition matrix (Markov what-next view): "
        "one user-keyed lag window + a bounded-grain aggregate."
    ),
    tags=("analytics", "events"),
)
def q82(spark, sf):
    from rudder_server_spark.operators.funnel import transition_matrix

    e = load_table(spark, sf, "events")
    return transition_matrix(e)


@register(
    "q83_growth_accounting",
    """
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    lagged AS (
      SELECT week,
             CASE
               WHEN lag(week) OVER (PARTITION BY user_id ORDER BY week) IS NULL
                 THEN 'new'
               WHEN date_diff('day', lag(week) OVER (PARTITION BY user_id ORDER BY week), week) = 7
                 THEN 'retained'
               ELSE 'resurrected'
             END AS state
      FROM uw
    )
    SELECT week, state, CAST(count(*) AS BIGINT) AS users
    FROM lagged GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=(
        "Weekly growth accounting (new / retained / resurrected): "
        "distinct (user, week) grain first, then one user-keyed lag "
        "window and a bounded rollup."
    ),
    tags=("analytics", "events"),
)
def q83(spark, sf):
    from rudder_server_spark.operators.funnel import growth_accounting

    e = load_table(spark, sf, "events")
    return growth_accounting(e)


# --------------------------------------------------------------------------
# Q84 async/bulk destination delivery — the batch-router's third delivery
# mode (router/batchrouter/asyncdestinationmanager/, handle_async.go:
# 410-560): jobs grouped per (destination, upload window) into part files
# (maxEventsInABatch, handle_async.go:372-373), an upload-level poll
# verdict (common/common.go:53-62), and per-record success/fail triage
# joined back onto job statuses (GetUploadStats EventStatMeta,
# common/common.go:136-144) rolled into per-upload import stats. The poll
# and record-triage verdicts are deterministic md5 buckets standing in for
# the destination's bulk API; everything else is the production path.
@register(
    "q84_async_destinations",
    """
    WITH jobs AS (
      SELECT event_id AS job_id, ts,
             CASE event_type
               WHEN 'purchase' THEN 'MARKETO_BULK_UPLOAD'
               WHEN 'click' THEN 'ELOQUA'
               WHEN 'view' THEN 'KLAVIYO_BULK_UPLOAD'
               WHEN 'signup' THEN 'SALESFORCE_BULK_UPLOAD'
               ELSE 'SFTP' END AS destination_id
      FROM events
    ),
    batched AS (
      SELECT *, date_trunc('day', ts) AS upload_window,
             CAST(floor((row_number() OVER (
               PARTITION BY destination_id, date_trunc('day', ts)
               ORDER BY ts, job_id) - 1) / 500) AS INT) AS part_file_number
      FROM jobs
    ),
    ids AS (
      SELECT *, destination_id || '/' ||
             strftime(upload_window, '%Y-%m-%dT%H:%M:%S') || '/' ||
             CAST(part_file_number AS VARCHAR) AS upload_id
      FROM batched
    ),
    final AS (
      SELECT *,
        CASE WHEN substring(md5(upload_id), 1, 1) IN ('0','1','2')
             THEN CASE WHEN substring(md5(CAST(job_id AS VARCHAR)), 1, 1) = 'f'
                       THEN 'aborted' ELSE 'failed' END
             ELSE 'succeeded' END AS final_state
      FROM ids
    )
    SELECT destination_id, CAST(upload_window AS DATE) AS upload_window,
           part_file_number,
           CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(SUM(CASE WHEN final_state = 'succeeded' THEN 1 ELSE 0 END) AS BIGINT) AS succeeded,
           CAST(SUM(CASE WHEN final_state = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
           CAST(SUM(CASE WHEN final_state = 'aborted' THEN 1 ELSE 0 END) AS BIGINT) AS aborted
    FROM final
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc=(
        "Async bulk-upload lifecycle: window+cap batch formation (one "
        "shuffle on the batching key), upload-level poll (bounded by "
        "upload count), broadcast join-back of verdicts, per-upload "
        "import-stats rollup on the same exchange. "
        "Ref: handle_async.go:410-560, common/common.go:17-26,136-144"
    ),
    tags=("rudder", "router"),
)
def q84(spark, sf):
    from rudder_server_spark.operators import async_destinations as A

    e = load_table(spark, sf, "events")
    dest = (
        F.when(F.col("event_type") == "purchase", "MARKETO_BULK_UPLOAD")
        .when(F.col("event_type") == "click", "ELOQUA")
        .when(F.col("event_type") == "view", "KLAVIYO_BULK_UPLOAD")
        .when(F.col("event_type") == "signup", "SALESFORCE_BULK_UPLOAD")
        .otherwise("SFTP")
    )
    jobs = e.select(
        F.col("event_id").alias("job_id"), "ts", dest.alias("destination_id")
    )
    # one evaluation of the batching window: the poll's distinct-uploads
    # subtree and the finalize join-back both read the checkpoint instead
    # of re-running the (dest, window) exchange + row_number
    batched = A.assign_upload_batches(
        jobs, upload_window="day", max_events_per_file=500
    ).localCheckpoint(eager=False)
    uploads = batched.select("upload_id").distinct()
    poll = A.simulate_poll(uploads)
    finalized = A.finalize_job_statuses(batched, poll)
    return (
        A.import_stats(finalized)
        .select(
            "destination_id",
            F.col("upload_window").cast("date").alias("upload_window"),
            "part_file_number",
            "n_jobs",
            "succeeded",
            "failed",
            "aborted",
        )
        .orderBy("destination_id", "upload_window", "part_file_number")
    )


# --------------------------------------------------------------------------
# Q85 error-index reporting — enterprise/reporting/error_index/
# (error_index_reporting.go, types.go:28-39, worker.go:184,269-284): failed
# events indexed for the debugging UI, keyed (source, destination, failed
# stage, hour bucket) with the failure time range and the latest sample id.
# Failures are the q38 cohort (event_type='error'); ids/stages derive
# deterministically from the job key, standing in for the jobsdb params.
@register(
    "q85_error_index",
    """
    WITH failed AS (
      SELECT 'job-' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS message_id,
             'src-' || CAST(user_id % 3 AS VARCHAR) AS source_id,
             'dst-' || CAST(event_id % 4 AS VARCHAR) AS destination_id,
             CASE CAST(event_id % 3 AS INT)
               WHEN 0 THEN 'router'
               WHEN 1 THEN 'user_transformer'
               ELSE 'dest_transformer' END AS failed_stage,
             epoch_us(ts) AS failed_at,
             date_trunc('hour', ts) AS failed_hour
      FROM events WHERE event_type = 'error'
    )
    SELECT source_id, destination_id, failed_stage, failed_hour,
           CAST(count(*) AS BIGINT) AS n_failures,
           min(failed_at) AS first_failed_at,
           max(failed_at) AS last_failed_at,
           arg_max(message_id, lpad(CAST(failed_at AS VARCHAR), 20, '0') || message_id)
             AS sample_message_id
    FROM failed
    GROUP BY 1, 2, 3, 4
    ORDER BY 1, 2, 3, 4
    """,
    doc=(
        "Error-index rollup: failures bucketed (source, destination, "
        "stage, hour) with time range + latest sample — one shuffle on the "
        "bounded index key; the sink itself is Hive-partitioned parquet "
        "with the reference's per-file sorting key (write_error_index). "
        "Ref: error_index_reporting.go, types.go:28-39, worker.go:184,269"
    ),
    tags=("rudder", "reporting"),
)
def q85(spark, sf):
    from rudder_server_spark.operators.error_index import (
        error_index_payload,
        error_index_rollup,
    )

    e = _events(spark, sf)
    failed = e.where(F.col("event_type") == "error").select(
        F.concat(
            F.lit("job-"), F.lpad(F.col("event_id").cast("string"), 10, "0")
        ).alias("message_id"),
        F.concat(F.lit("src-"), (F.col("user_id") % 3).cast("string")).alias(
            "source_id"
        ),
        F.concat(F.lit("dst-"), (F.col("event_id") % 4).cast("string")).alias(
            "destination_id"
        ),
        F.when((F.col("event_id") % 3) == 0, "router")
        .when((F.col("event_id") % 3) == 1, "user_transformer")
        .otherwise("dest_transformer")
        .alias("failed_stage"),
        F.col("ts").alias("received_at"),
        F.col("ts").alias("failed_at"),
        F.col("event_type"),
    )
    payload = error_index_payload(failed)
    return (
        error_index_rollup(payload)
        .orderBy("source_id", "destination_id", "failed_stage", "failed_hour")
    )


# --------------------------------------------------------------------------
# Q86 regulation deletion APPLY — completes the right-to-be-forgotten path
# q53 only audits: the suppression cohort is physically purged from every
# event table and committed atomically via the pointer-swap protocol
# (regulation-worker/ delete jobs; enterprise/suppress-user feeds the
# cohort). The function also proves idempotency inline: a second apply of
# the same regulation id must be refused per table (the worker's retry
# semantics) or the query raises. The returned frame reads the COMMITTED
# snapshots back, so `purged_remaining = 0` is verified against what a
# reader actually sees, not against the plan that produced it.
@register(
    "q86_regulation_apply",
    """
    WITH kept AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events
      WHERE event_type IN ('signup', 'click', 'purchase')
        AND NOT (user_id IS NOT NULL
                 AND substring(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0')
      GROUP BY 1, 2
    )
    SELECT event_type AS table_name,
           CAST(SUM(cnt) AS BIGINT) AS rows_after,
           CAST(COUNT(user_id) AS BIGINT) AS users_after,
           CAST(0 AS BIGINT) AS purged_remaining
    FROM kept GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Regulation delete APPLY: broadcast anti-join purge per table + "
        "atomic pointer-swap commit, idempotent per regulation id "
        "(re-run refused via the commit log), verified by reading the "
        "committed snapshots back. Ref: regulation-worker/internal/delete, "
        "suppress-user/handler.go:27; commit protocol sources/load_commit.py"
    ),
    tags=("rudder", "load"),
)
def q86(spark, sf):
    import tempfile
    from functools import reduce

    from rudder_server_spark.operators.regulation import (
        apply_regulation_delete,
        read_purged_tables,
    )

    e = _events(spark, sf)
    tables = {t: e.where(F.col("event_type") == t) for t in ("click", "purchase", "signup")}
    sup = F.col("user_id").isNotNull() & (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0"
    )
    cohort = e.where(sup).select("user_id").distinct()

    root = tempfile.mkdtemp(prefix="rss_regulation_")
    first = apply_regulation_delete(spark, tables, cohort, root, "reg-001")
    if not all(first.values()):
        raise AssertionError(f"initial regulation apply must commit: {first}")
    second = apply_regulation_delete(spark, tables, cohort, root, "reg-001")
    if any(second.values()):
        raise AssertionError(f"regulation re-run must be a no-op: {second}")

    stats = []
    for name, df in read_purged_tables(spark, root, tables).items():
        # pre-reduced to the (user) grain so the distinct never Expands
        per_user = df.groupBy("user_id").agg(F.count("*").alias("cnt"))
        stats.append(
            per_user.agg(
                F.lit(name).alias("table_name"),
                F.sum("cnt").alias("rows_after"),
                F.count("user_id").alias("users_after"),
                F.sum(F.when(sup, F.col("cnt")).otherwise(0)).alias("purged_remaining"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), stats).orderBy("table_name")


# --------------------------------------------------------------------------
# Q90 notifier queue sweep — the warehouse job queue's tick (services/
# notifier): orphaned claims requeue (repo.go:480-512), then a claim round
# picks the first `slots` (priority ASC, id ASC) waiting/failed jobs for
# round-robin workers (repo.go:350-394; failed jobs re-claim as-is — the
# attempt>maxAttempt abort fires on the NEXT failure, repo.go:400-435).
# Synthetic queue from events: priority = user bucket, status from
# event_type, last_exec_time = ts, now = corpus high-water mark.
@register(
    "q90_notifier_sweep",
    """
    WITH hw AS (SELECT max(ts) AS m FROM events),
    q AS (
      SELECT event_id AS id, (user_id % 3) + 1 AS priority,
             CASE event_type WHEN 'signup' THEN 'waiting'
                             WHEN 'view' THEN 'waiting'
                             WHEN 'click' THEN 'executing'
                             WHEN 'purchase' THEN 'failed'
                             ELSE 'succeeded' END AS status,
             ts AS last_exec_time, m
      FROM events CROSS JOIN hw
    ),
    st1 AS (
      SELECT *, CASE WHEN status = 'executing'
                      AND last_exec_time <= m - INTERVAL 24 HOUR
                     THEN 'waiting' ELSE status END AS s1
      FROM q
    ),
    rk AS (
      SELECT *, CASE WHEN s1 IN ('waiting','failed')
                     THEN row_number() OVER (
                       PARTITION BY (s1 IN ('waiting','failed'))
                       ORDER BY priority, id) END AS r
      FROM st1
    ),
    fin AS (
      SELECT CASE WHEN r <= 64 THEN 'executing' ELSE s1 END AS new_status,
             CASE WHEN r <= 64 THEN 'w-' || CAST((r - 1) % 8 AS VARCHAR) END
               AS worker_id
      FROM rk
    )
    SELECT new_status, coalesce(worker_id, '') AS worker_id, count(*) AS n
    FROM fin GROUP BY new_status, worker_id
    ORDER BY new_status, worker_id
    """,
    doc=(
        "Notifier queue tick: orphan requeue then a (priority, id)-ordered "
        "claim round assigned round-robin to workers; post-sweep counts "
        "per (status, worker). Ref: services/notifier/repo.go:350-512"
    ),
    tags=("rudder", "jobsdb"),
)
def q90(spark, sf):
    from rudder_server_spark.sources.jobsdb import notifier_sweep

    e = _events(spark, sf)
    m = e.agg(F.max("ts")).head()[0]
    jobs = e.select(
        F.col("event_id").alias("id"),
        ((F.col("user_id") % 3) + 1).alias("priority"),
        F.when(F.col("event_type").isin("signup", "view"), "waiting")
        .when(F.col("event_type") == "click", "executing")
        .when(F.col("event_type") == "purchase", "failed")
        .otherwise("succeeded")
        .alias("status"),
        F.col("ts").alias("last_exec_time"),
    )
    swept = notifier_sweep(jobs, now=F.lit(m), orphan_timeout_hours=24, slots=64, workers=8)
    return (
        swept.groupBy(
            "new_status", F.coalesce("worker_id", F.lit("")).alias("worker_id")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("new_status", "worker_id")
    )


# --------------------------------------------------------------------------
# Q93 warehouse upload-archival sweep — warehouse/archive/archiver.go
# (Do → archiveUploads, :205-447): exported uploads past retention get
# their staging/load-file metadata rows dumped + deleted and the upload
# flagged archivedStagingAndLoadFiles. The uploads/staging/load relations
# derive deterministically from events (one upload per (event_type, day);
# one staging + one load file per event); the output is the archiver's
# per-upload accounting (numArchivedUploads stats, archiver.go:440-444).
@register(
    "q93_wh_archive",
    """
    WITH f AS (
      SELECT event_id, event_type, ts, CAST(ts AS DATE) AS d,
             event_type || '/' || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS upload_id
      FROM events
    ),
    uploads AS (
      SELECT upload_id, event_type AS source_id, 'wh' AS destination_id,
             CASE WHEN day(d) % 7 = 0 THEN 'exporting' ELSE 'exported_data' END AS status,
             max(ts) AS created_at,
             CASE WHEN day(d) % 11 = 0 THEN ''
                  ELSE 'ws-' || CAST(day(d) % 3 AS VARCHAR) END AS workspace_id,
             CASE WHEN day(d) % 5 = 0 THEN '{"archivedStagingAndLoadFiles":true}'
                  ELSE '{}' END AS metadata,
             CAST(count(*) AS BIGINT) AS n_files
      FROM f GROUP BY upload_id, event_type, d
    )
    SELECT upload_id, source_id, destination_id,
           n_files AS archived_staging_files,
           n_files AS archived_load_files
    FROM uploads
    WHERE status = 'exported_data'
      AND created_at < TIMESTAMP '2024-01-25 00:00:00'
      AND workspace_id <> '' AND workspace_id <> 'ws-2'
      AND json_extract_string(metadata, '$.archivedStagingAndLoadFiles')
          IS DISTINCT FROM 'true'
    ORDER BY upload_id
    """,
    doc=(
        "Warehouse archiver sweep accounting: eligibility filter on the "
        "bounded uploads relation (status + retention + workspace + "
        "archived flag), broadcast semi-join split of staging/load rows, "
        "per-upload archived counts. Ref: warehouse/archive/archiver.go:"
        "205-447"
    ),
    tags=("rudder", "warehouse"),
)
def q93(spark, sf):
    import datetime as _dt

    from rudder_server_spark.operators.wh_archive import archive_uploads

    # plain narrow scan, NOT fan_out: REVERTED in r12 (VERDICT r11 "what's
    # wrong" #2). The r11 fan cost a pure extra Exchange at bench scale
    # (bench v2 ratio 26.6 -> 39.2; r12 interleaved A/B/C in
    # 77849b4:bench/ab_q93.py: plain 0.96 vs fan-width 1.10 vs cap-8 1.03
    # min — plain wins). The archiver's per-row work (date math + concat)
    # is too cheap to qualify for the fan gate, and on any real
    # multi-row-group corpus fan_out no-ops anyway, so the fan only ever
    # changed the single-row-group bench plan.
    e = load_table(spark, sf, "events").select("event_id", "event_type", "ts")
    d = F.to_date("ts")
    dom = F.dayofmonth(d)
    upload_id = F.concat("event_type", F.lit("/"), F.date_format(d, "yyyy-MM-dd"))
    staging = e.select(F.col("event_id").alias("id"), upload_id.alias("upload_id"))
    load = staging
    uploads = (
        e.groupBy(
            upload_id.alias("upload_id"),
            F.col("event_type").alias("source_id"),
            F.when(dom % 7 == 0, "exporting")
            .otherwise("exported_data")
            .alias("status"),
            F.when(dom % 11 == 0, "")
            .otherwise(F.concat(F.lit("ws-"), (dom % 3).cast("string")))
            .alias("workspace_id"),
            F.when(dom % 5 == 0, '{"archivedStagingAndLoadFiles":true}')
            .otherwise("{}")
            .alias("metadata"),
        )
        .agg(F.max("ts").alias("created_at"))
        .withColumn("destination_id", F.lit("wh"))
    )
    res = archive_uploads(
        uploads, staging, load,
        now=_dt.datetime(2024, 2, 1), days=7, skip_workspaces=("ws-2",),
    )
    return res["stats"].select(
        "upload_id", "source_id", "destination_id",
        "archived_staging_files", "archived_load_files",
    ).orderBy("upload_id")


# --------------------------------------------------------------------------
# Q94 live-events debugger — services/debugger/destination/
# eventDeliveryStatusUploader.go: delivery statuses for destinations with
# live-debug enabled, buffered to the latest `size` per destination inside
# the cache TTL (cache/internal/memory/memory.go:22-26), newest first —
# the UI's live tail. Broadcast enabled-gate + per-key WindowGroupLimit
# (plan-pinned in tests): nothing corpus-sized is ever sorted.
@register(
    "q94_live_events",
    """
    WITH statuses AS (
      SELECT 'dst-' || CAST(event_id % 4 AS VARCHAR) AS destination_id,
             'job-' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS message_id,
             CASE WHEN event_type = 'error' THEN 'failed' ELSE 'succeeded' END AS job_state,
             ts AS sent_at
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY destination_id
               ORDER BY sent_at DESC, message_id DESC) AS rank
      FROM statuses
      WHERE destination_id IN ('dst-0', 'dst-2')
        AND sent_at >= TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 72 HOUR
    )
    SELECT destination_id, CAST(rank AS INT) AS rank, message_id, job_state
    FROM ranked WHERE rank <= 5
    ORDER BY destination_id, rank
    """,
    doc=(
        "Live-events debugger buffer: enabled-destination gate (broadcast "
        "semi), TTL filter, latest-5-per-key group limit, newest first. "
        "Ref: eventDeliveryStatusUploader.go:117-163, debugger cache "
        "memory.go:22-26"
    ),
    tags=("rudder", "reporting"),
)
def q94(spark, sf):
    import datetime as _dt

    from rudder_server_spark.operators.debugger import live_events_buffer

    e = load_table(spark, sf, "events")
    statuses = e.select(
        F.concat(F.lit("dst-"), (F.col("event_id") % 4).cast("string")).alias(
            "destination_id"
        ),
        F.concat(
            F.lit("job-"), F.lpad(F.col("event_id").cast("string"), 10, "0")
        ).alias("message_id"),
        F.when(F.col("event_type") == "error", "failed")
        .otherwise("succeeded")
        .alias("job_state"),
        F.col("ts").alias("sent_at"),
    )
    enabled = local_frame(spark,
        [("dst-0",), ("dst-2",)], "destination_id string"
    )
    buf = live_events_buffer(
        statuses, enabled, size=5, ttl_hours=72,
        now=_dt.datetime(2024, 1, 31),
    )
    return buf.select(
        "destination_id", F.col("rank").cast("int").alias("rank"),
        "message_id", "job_state",
    ).orderBy("destination_id", "rank")


# --------------------------------------------------------------------------
# Q95 suppression-store fold — enterprise/suppress-user/syncer.go:126-152 +
# suppression-backup-service: the synced regulation update stream folded
# into current repository state (latest update per (workspace, user) wins;
# canceled revokes; empty source list = all sources). One max_by
# aggregation on the bounded (workspace, user) key — the state the F2
# suppression filter and the backup exporter both consume.
@register(
    "q95_suppression_fold",
    """
    WITH updates AS (
      SELECT 'ws-' || CAST(user_id % 3 AS VARCHAR) AS workspace_id,
             'u-' || CAST(user_id AS VARCHAR) AS user_id,
             CASE WHEN event_type = 'purchase' THEN []::VARCHAR[]
                  ELSE ['src-' || CAST(event_id % 2 AS VARCHAR)] END AS source_ids,
             event_type = 'error' AS canceled,
             ts AS created_at
      FROM events WHERE event_type IN ('purchase', 'signup', 'error')
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY workspace_id, user_id
               ORDER BY created_at DESC, canceled DESC) AS rn
      FROM updates
    )
    SELECT workspace_id, user_id, source_ids, created_at
    FROM ranked WHERE rn = 1 AND NOT canceled
    ORDER BY workspace_id, user_id
    """,
    doc=(
        "Suppression sync-stream fold to current state: latest update per "
        "(workspace, user), cancels revoke, empty source list = wildcard. "
        "Ref: syncer.go:126-152, suppress-user/model/model.go:16-22, "
        "suppression-backup-service/exporter/exporter.go:50-80"
    ),
    tags=("rudder", "filters"),
)
def q95(spark, sf):
    from rudder_server_spark.sources.suppression_store import fold_suppressions

    e = load_table(spark, sf, "events").where(
        F.col("event_type").isin("purchase", "signup", "error")
    )
    updates = e.select(
        F.concat(F.lit("ws-"), (F.col("user_id") % 3).cast("string")).alias(
            "workspace_id"
        ),
        F.concat(F.lit("u-"), F.col("user_id").cast("string")).alias("user_id"),
        F.when(
            F.col("event_type") == "purchase", F.array().cast("array<string>")
        )
        .otherwise(
            F.array(
                F.concat(F.lit("src-"), (F.col("event_id") % 2).cast("string"))
            )
        )
        .alias("source_ids"),
        (F.col("event_type") == "error").alias("canceled"),
        F.col("ts").alias("created_at"),
    )
    return fold_suppressions(updates).orderBy("workspace_id", "user_id")


# --------------------------------------------------------------------------
# Q98 async-destination provider upload shapes — the per-provider bulk-file
# contracts over the q84 batching exchange (router/batchrouter/
# asyncdestinationmanager/): marketo headered CSV + row fingerprints
# (marketo-bulk-upload/utils.go:153-248), bing-ads Customer List member
# rows with jobId<<>>hashedEmail client ids (audience/util.go:106-134),
# bing-ads offline-conversion rows after the Transform validation ladder
# with sha256 email hashing and US-format time rewrite
# (offline-conversions/bulk_uploader.go:49-149), and lytics trait-mapped
# CSV (lytics_bulk_upload/utils.go:20-97). One audit row per
# (provider, action): job/row/failure counts plus min/max of the exact CSV
# lines — a value-level pin on escaping, time formats, hashing, "<nil>"
# null rendering and column order for all four providers at once.
@register(
    "q98_provider_upload_shapes",
    """
    WITH mk_docs AS (
      -- the SAME routed JSON document the engine synthesizes per event
      -- (marketo staged payload); the oracle pays the same parse work
      SELECT event_id,
             '{"email":"u' || CAST(user_id AS VARCHAR)
             || '@example.com","firstName":"fn' || CAST(event_id % 100 AS VARCHAR) || '"'
             || CASE WHEN event_id % 7 = 0 THEN ',"age":null'
                     WHEN event_id % 11 = 0 THEN ''
                     ELSE ',"age":' || CAST(event_id % 80 AS VARCHAR) END
             || '}' AS payload
      FROM events
    ),
    mk_fields AS (
      -- per mapped field: one type probe + one value extraction over the
      -- document (the Spark side pays the same two variant-gets per field;
      -- the Go reference's gjson.Get re-scans the document per field)
      SELECT json_type(payload, '$.email') AS t_email,
             json_extract_string(payload, '$.email') AS v_email,
             json_type(payload, '$.firstName') AS t_firstName,
             json_extract_string(payload, '$.firstName') AS v_firstName,
             json_type(payload, '$.age') AS t_age,
             json_extract_string(payload, '$.age') AS v_age
      FROM mk_docs
    ),
    mk AS (
      -- createCSVFile value rendering per mapped header: absent -> '',
      -- JSON null -> '<nil>', scalars via their text
      SELECT CASE WHEN t_email IS NULL THEN ''
                  WHEN t_email = 'NULL' THEN '<nil>'
                  ELSE v_email END
             || ',' ||
             CASE WHEN t_firstName IS NULL THEN ''
                  WHEN t_firstName = 'NULL' THEN '<nil>'
                  ELSE v_firstName END
             || ',' ||
             CASE WHEN t_age IS NULL THEN ''
                  WHEN t_age = 'NULL' THEN '<nil>'
                  ELSE v_age END AS line
      FROM mk_fields
    ),
    marketo AS (
      SELECT 'marketo' AS provider, '' AS action,
             count(*) AS n_jobs, count(*) AS n_rows, 0 AS n_failed,
             min(line) AS min_line, max(line) AS max_line,
             min(sha256(line)) AS min_hash, max(sha256(line)) AS max_hash
      FROM mk
    ),
    aud_docs AS (
      SELECT event_id,
             '{"message":{"Action":"'
             || CASE WHEN event_id % 10 = 7 THEN 'Bogus'
                     ELSE CASE event_id % 3 WHEN 0 THEN 'Add'
                                            WHEN 1 THEN 'Remove'
                                            ELSE 'Replace' END END
             || '","List":[{"email":"e","hashedEmail":"' || md5('u' || CAST(user_id AS VARCHAR)) || '"}'
             || CASE WHEN event_id % 2 = 0 THEN ''
                     ELSE ',{"email":"e","hashedEmail":"' || md5('u' || CAST(user_id AS VARCHAR)) || 'b"}' END
             || ']}}' AS payload
      FROM events
    ),
    aud AS (
      SELECT event_id,
             json_extract_string(payload, '$.message.Action') AS action,
             from_json(json_extract(payload, '$.message.List'),
                       '[{"email":"VARCHAR","hashedEmail":"VARCHAR"}]') AS members
      FROM aud_docs
    ),
    aud_members AS (
      SELECT event_id, action, unnest(members).hashedEmail AS h
      FROM aud WHERE action IN ('Replace', 'Remove', 'Add')
    ),
    audience AS (
      SELECT 'bingads_audience' AS provider, action,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_jobs,
             CAST(count(line) AS BIGINT) AS n_rows,
             CAST(count(*) - count(line) AS BIGINT) AS n_failed,
             min(line) AS min_line, max(line) AS max_line,
             CAST(NULL AS VARCHAR) AS min_hash, CAST(NULL AS VARCHAR) AS max_hash
      FROM (
        SELECT event_id, action,
               'Customer List Item,,,aud-1,' || CAST(event_id AS VARCHAR)
               || '<<>>' || h || ',,,,,,,Email,' || h AS line
        FROM aud_members
        UNION ALL
        SELECT event_id, action, NULL FROM aud
        WHERE action NOT IN ('Replace', 'Remove', 'Add')
      ) GROUP BY action
    ),
    off_docs AS (
      SELECT event_id, CAST(ts AS DATE) AS uday,
             '{"action":"'
             || CASE event_id % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update' ELSE 'delete' END
             || '","fields":{"conversionName":"Order Completed","conversionTime":"'
             || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
             || '","conversionCurrencyCode":"USD","conversionValue":"12.5"'
             || CASE WHEN event_id % 5 = 0 THEN ''
                     ELSE ',"microsoftClickId":"ck' || CAST(event_id AS VARCHAR) || '"' END
             || CASE WHEN event_id % 10 = 0
                     THEN ',"email":"u' || CAST(user_id AS VARCHAR) || '@example.com"'
                     ELSE '' END
             || CASE WHEN event_id % 3 <> 0 AND event_id % 13 <> 0
                     THEN ',"adjustedConversionTime":"' || strftime(ts + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%SZ') || '"'
                     ELSE '' END
             || '}}' AS payload
      FROM events
    ),
    off_fields AS (
      SELECT event_id, uday,
             json_extract_string(payload, '$.action') AS action,
             json_extract(payload, '$.fields.conversionName') AS j_cname,
             json_extract(payload, '$.fields.conversionTime') AS j_ct,
             json_extract(payload, '$.fields.adjustedConversionTime') AS j_adj,
             json_extract(payload, '$.fields.microsoftClickId') AS j_ck,
             json_extract(payload, '$.fields.email') AS j_em,
             json_extract(payload, '$.fields.conversionCurrencyCode') AS j_ccur,
             json_extract(payload, '$.fields.conversionValue') AS j_cval
      FROM off_docs
    ),
    off_parsed AS (
      -- the Transform validation ladder's inputs + the RFC3339 -> US-format
      -- wall-clock rewrite, off the extracted fields
      SELECT event_id, uday, action,
             j_cname ->> '$' AS cname,
             strftime(strptime(j_ct ->> '$', '%Y-%m-%dT%H:%M:%SZ'),
                      '%-m/%-d/%Y %-I:%M:%S %p') AS us,
             CASE WHEN j_adj IS NOT NULL
                  THEN strftime(strptime(j_adj ->> '$', '%Y-%m-%dT%H:%M:%SZ'),
                                '%-m/%-d/%Y %-I:%M:%S %p') END AS us2,
             coalesce(j_ck ->> '$', '') AS ck,
             CASE WHEN j_em IS NOT NULL THEN sha256(j_em ->> '$') ELSE '' END AS em,
             j_ck IS NOT NULL AS has_ck,
             j_em IS NOT NULL AS has_em,
             j_adj IS NOT NULL AS has_adj,
             j_ccur ->> '$' AS ccur,
             j_cval ->> '$' AS cval
      FROM off_fields
    ),
    off_rendered AS (
      SELECT event_id, uday, action,
             CASE WHEN NOT (has_ck OR has_em) THEN NULL
                  WHEN action <> 'insert' AND NOT has_adj THEN NULL
                  WHEN action = 'insert' THEN
                    'Offline Conversion,,' || CAST(event_id AS VARCHAR)
                    || ',,,,' || ccur || ',' || cname || ',' || us || ',' || cval || ','
                    || ck || ',' || em || ',,,'
                  WHEN action = 'update' THEN
                    'Offline Conversion,Restate,,' || CAST(event_id AS VARCHAR)
                    || ',,' || cname || ',' || us || ',' || cval || ',' || ck || ','
                    || em || ',,' || ccur || ',' || us2
                  ELSE
                    'Offline Conversion,Retract,,' || CAST(event_id AS VARCHAR)
                    || ',,' || cname || ',' || us || ',' || ck || ','
                    || em || ',,' || us2
             END AS line
      FROM off_parsed
    ),
    off_capped AS (
      SELECT event_id, action,
             CASE WHEN row_number() OVER (
               PARTITION BY uday, action ORDER BY event_id) <= 1000
             THEN line END AS line
      FROM off_rendered WHERE line IS NOT NULL
    ),
    off_lines AS (
      SELECT * FROM off_capped
      UNION ALL
      SELECT event_id, action, NULL FROM off_rendered WHERE line IS NULL
    ),
    offline AS (
      SELECT 'bingads_offline' AS provider, action,
             CAST(count(*) AS BIGINT) AS n_jobs,
             CAST(count(line) AS BIGINT) AS n_rows,
             CAST(count(*) - count(line) AS BIGINT) AS n_failed,
             min(line) AS min_line, max(line) AS max_line,
             CAST(NULL AS VARCHAR) AS min_hash, CAST(NULL AS VARCHAR) AS max_hash
      FROM off_lines GROUP BY action
    ),
    ly_docs AS (
      SELECT event_id,
             '{"message":{"properties":{"email":"u' || CAST(user_id AS VARCHAR)
             || '@e.io","k":' || json_extract_string(props, '$.k') || '}}}' AS payload
      FROM events
    ),
    ly_fields AS (
      SELECT json_type(payload, '$.message.properties.email') AS t_email,
             json_extract_string(payload, '$.message.properties.email') AS v_email,
             json_type(payload, '$.message.properties.k') AS t_k,
             json_extract_string(payload, '$.message.properties.k') AS v_k
      FROM ly_docs
    ),
    ly AS (
      SELECT CASE WHEN t_email IS NULL THEN ''
                  WHEN t_email = 'NULL' THEN '<nil>'
                  ELSE v_email END
             || ',' ||
             CASE WHEN t_k IS NULL THEN ''
                  WHEN t_k = 'NULL' THEN '<nil>'
                  ELSE v_k END
             || ',' AS line
      FROM ly_fields
    ),
    lytics AS (
      SELECT 'lytics' AS provider, '' AS action,
             count(*) AS n_jobs, count(*) AS n_rows, 0 AS n_failed,
             min(line) AS min_line, max(line) AS max_line,
             CAST(NULL AS VARCHAR) AS min_hash, CAST(NULL AS VARCHAR) AS max_hash
      FROM ly
    )
    SELECT provider, action, CAST(n_jobs AS BIGINT) AS n_jobs,
           CAST(n_rows AS BIGINT) AS n_rows, CAST(n_failed AS BIGINT) AS n_failed,
           min_line, max_line, min_hash, max_hash
    FROM (
      SELECT * FROM marketo UNION ALL SELECT * FROM audience
      UNION ALL SELECT * FROM offline UNION ALL SELECT * FROM lytics
    ) ORDER BY provider, action
    """,
    doc=(
        "Async-provider bulk-file shape audit over 4 providers: marketo "
        "CSV rows + sha256 fingerprints, bing-ads audience member rows "
        "(jobId<<>>hashedEmail), bing-ads offline conversions (validation "
        "ladder, sha256 email hashing, Go US-time rewrite), lytics trait "
        "CSV. Ref: marketo-bulk-upload/utils.go:153-248, bing-ads/"
        "audience/util.go:106-134, bing-ads/offline-conversions/"
        "bulk_uploader.go:49-149, lytics_bulk_upload/utils.go:20-97"
    ),
    tags=("rudder", "router"),
)
def q98(spark, sf):
    # overlap the four branch BUILDS on driver threads: each branch ends in
    # sequential_accept's lazy localCheckpoint, whose Catalyst physical
    # planning is JVM-side work that parallelizes across threads (py4j
    # releases the GIL on socket waits). Guide §2.6 applied to plan
    # construction — measured ~0.6 s off the per-call build
    # (77849b4:bench/ab_q98threads.py); the produced plans, union order and
    # results are identical to building the branches sequentially.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        mk, aud, off, ly = [
            f.result()
            for f in [pool.submit(b) for b in _q98_branches(spark, sf)]
        ]
    allp = mk.unionByName(aud).unionByName(off).unionByName(ly)
    # n_jobs as a SUM of per-job first-row weights, not countDistinct: a
    # mixed distinct + plain aggregate plans an Expand that doubles the
    # unioned corpus before the shuffle (SCALE.md house rule)
    return (
        allp.groupBy("provider", "action")
        .agg(
            F.sum("job_first").cast("long").alias("n_jobs"),
            F.count("csv_line").alias("n_rows"),
            F.sum(F.when(F.col("failed"), 1).otherwise(0)).alias("n_failed"),
            F.min("csv_line").alias("min_line"),
            F.max("csv_line").alias("max_line"),
            F.min("hash").alias("min_hash"),
            F.max("hash").alias("max_hash"),
        )
        .orderBy("provider", "action")
    )


def _q98_branches(spark, sf):
    """The four provider branch builders over one shared fanned+persisted
    base, returned as zero-arg closures so the caller chooses the
    construction schedule. Each branch ends in sequential_accept's lazy
    ``localCheckpoint``, which runs full Catalyst physical planning at
    BUILD time (r11 profile: ~1.3 s of q98's build is these four
    plannings, serialized); the lineages are independent, so q98 overlaps
    them on driver threads (guide §2.6 applied to plan construction) —
    the produced plans, union order and results are identical either way.
    """
    from rudder_server_spark.operators import provider_uploads as PU

    # ONE narrow persisted base feeds all four provider branches — the
    # providers' synthesized docs derive from (event_id, user_id, ts,
    # props.k) only, so four parquet scans collapse to one cached read.
    # repartition: the fixture is ONE small parquet file, so under a
    # vanilla session (128 MB split size) every per-row-heavy branch —
    # CSV render, validation ladder, sha256 — would run as a single task
    # while 31 cores idle; fan the cached base out to the cluster width
    e = fan_out(
        load_table(spark, sf, "events").select(
            "event_id", "user_id", "ts",
            F.get_json_object("props", "$.k").alias("__k"),
        ),
        spark,
        paths=[os.path.join(sf, "events.parquet")],
    ).persist()
    eid, uid = F.col("event_id"), F.col("user_id").cast("string")
    day = F.to_date("ts").alias("upload_day")
    s = lambda c: c.cast("string")  # noqa: E731

    # ---- marketo: headered CSV over the field mapping
    age = (
        F.when(eid % 7 == 0, F.lit(',"age":null'))
        .when(eid % 11 == 0, F.lit(""))
        .otherwise(F.concat(F.lit(',"age":'), s(eid % 80)))
    )
    mk_doc = F.concat(
        F.lit('{"email":"u'), uid, F.lit('@example.com","firstName":"fn'),
        s(eid % 100), F.lit('"'), age, F.lit("}"),
    )
    mk = lambda: PU.marketo_csv_rows(  # noqa: E731
        e.select(eid.alias("job_id"), day, mk_doc.alias("payload")),
        [{"from": "email", "to": "email"},
         {"from": "firstName", "to": "firstName"},
         {"from": "age", "to": "age"}],
        group_cols=("upload_day",),
    ).select(
        F.lit("marketo").alias("provider"), F.lit("").alias("action"),
        F.lit(1).alias("job_first"), F.col("csv_line"),
        (~F.col("accepted")).alias("failed"), F.col("data_hash").alias("hash"),
    )

    # ---- bing-ads audience: action split + member explode
    act = F.when(eid % 10 == 7, F.lit("Bogus")).otherwise(
        F.when(eid % 3 == 0, "Add").when(eid % 3 == 1, "Remove").otherwise("Replace")
    )
    h1 = F.md5(F.concat(F.lit("u"), uid))
    members = F.when(
        eid % 2 == 0,
        F.concat(F.lit('[{"email":"e","hashedEmail":"'), h1, F.lit('"}]')),
    ).otherwise(
        F.concat(
            F.lit('[{"email":"e","hashedEmail":"'), h1,
            F.lit('"},{"email":"e","hashedEmail":"'), h1, F.lit('b"}]'),
        )
    )
    aud_doc = F.concat(
        F.lit('{"message":{"Action":"'), act, F.lit('","List":'), members,
        F.lit("}}"),
    )
    aud = lambda: PU.bingads_audience_rows(  # noqa: E731
        e.select(eid.alias("job_id"), day, aud_doc.alias("payload")),
        "aud-1", group_cols=("upload_day",),
    ).select(
        F.lit("bingads_audience").alias("provider"), F.col("action"),
        # one weight per JOB: its first member row, or its single
        # rejected/NULL-member row
        F.when(
            F.col("member_index").isNull() | (F.col("member_index") == 0), 1
        ).otherwise(0).alias("job_first"),
        F.col("csv_line"),
        (F.col("error").isNotNull() | ~F.col("accepted")).alias("failed"),
        F.lit(None).cast("string").alias("hash"),
    )

    # ---- bing-ads offline conversions: validation ladder + hashing
    off_act = (
        F.when(eid % 3 == 0, "insert").when(eid % 3 == 1, "update").otherwise("delete")
    )
    conv_t = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    adj_t = F.date_format(
        F.col("ts") + F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )
    ck_part = F.when(eid % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit(',"microsoftClickId":"ck'), s(eid), F.lit('"'))
    )
    em_part = F.when(eid % 10 == 0,
        F.concat(F.lit(',"email":"u'), uid, F.lit('@example.com"')),
    ).otherwise(F.lit(""))
    adj_part = F.when(
        (off_act != "insert") & (eid % 13 != 0),
        F.concat(F.lit(',"adjustedConversionTime":"'), adj_t, F.lit('"')),
    ).otherwise(F.lit(""))
    off_doc = F.concat(
        F.lit('{"action":"'), off_act,
        F.lit('","fields":{"conversionName":"Order Completed","conversionTime":"'),
        conv_t,
        F.lit('","conversionCurrencyCode":"USD","conversionValue":"12.5"'),
        ck_part, em_part, adj_part, F.lit("}}"),
    )
    off = lambda: PU.bingads_offline_rows(  # noqa: E731
        e.select(eid.alias("job_id"), day, off_doc.alias("payload")),
        is_hash_required=True, group_cols=("upload_day",),
    ).select(
        F.lit("bingads_offline").alias("provider"), F.col("action"),
        F.lit(1).alias("job_first"), F.col("csv_line"),
        (F.col("error").isNotNull() | ~F.col("accepted")).alias("failed"),
        F.lit(None).cast("string").alias("hash"),
    )

    # ---- lytics: trait-mapped CSV off message.properties
    ly_doc = F.concat(
        F.lit('{"message":{"properties":{"email":"u'), uid,
        F.lit('@e.io","k":'), F.col("__k"), F.lit("}}}"),
    )
    ly = lambda: PU.lytics_csv_rows(  # noqa: E731
        e.select(eid.alias("job_id"), day, ly_doc.alias("payload")),
        [{"rudderProperty": "email", "lyticsProperty": "email_addr"},
         {"rudderProperty": "k", "lyticsProperty": "kcol"},
         {"rudderProperty": "gone", "lyticsProperty": "gone"}],
        group_cols=("upload_day",),
    ).select(
        F.lit("lytics").alias("provider"), F.lit("").alias("action"),
        F.lit(1).alias("job_first"), F.col("csv_line"),
        (~F.col("accepted")).alias("failed"),
        F.lit(None).cast("string").alias("hash"),
    )

    return [mk, aud, off, ly]


# --------------------------------------------------------------------------
# Q99 upload admission fold — the async managers' shared accept-or-skip
# byte-cap scan (marketo utils.go:216-231 `continue`; bing-ads/lytics
# populateZipFile else-branch): a REJECTED job does not advance the
# running file size, so later smaller jobs still fit — a sequential fold,
# not a prefix cumsum. Spark runs it as one bounded applyInPandas per
# upload group (group = day here, capped by the batcher upstream); the
# DuckDB oracle replays the exact loop as a recursive CTE. This is the
# driver-checked twin of the hypothesis differential tests in
# tests/test_provider_uploads.py.
@register(
    "q99_upload_admission",
    """
    WITH RECURSIVE jobs AS (
      SELECT event_id AS job_id, CAST(ts AS DATE) AS upload_day,
             octet_length(encode(
               '{"message": {"p":"' ||
               repeat('x', CASE WHEN event_id % 4 = 0 THEN 400 ELSE 40 END)
               || '"}, "metadata": {"job_id": ' || CAST(event_id AS VARCHAR)
               || '}}'
             )) AS line_bytes
      FROM events WHERE event_id % 20 = 0
    ),
    seq AS (
      SELECT *, row_number() OVER (
               PARTITION BY upload_day ORDER BY job_id) AS rn
      FROM jobs
    ),
    fold AS (
      SELECT upload_day, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS total,
             FALSE AS accepted
      FROM (SELECT DISTINCT upload_day FROM seq)
      UNION ALL
      SELECT s.upload_day, s.rn,
             CASE WHEN f.total + s.line_bytes < 1500
                  THEN f.total + s.line_bytes ELSE f.total END,
             f.total + s.line_bytes < 1500
      FROM fold f JOIN seq s
        ON s.upload_day = f.upload_day AND s.rn = f.rn + 1
    )
    SELECT upload_day,
           CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(sum(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
           CAST(max(total) AS BIGINT) AS accepted_bytes
    FROM fold WHERE rn > 0
    GROUP BY upload_day ORDER BY upload_day
    """,
    doc=(
        "The shared bulk-upload admission fold (accept-or-skip byte cap) "
        "as a driver-checked relation: per upload group, jobs accepted "
        "while the running accepted-byte total stays under the cap; "
        "rejected jobs do not advance it. Oracle replays the loop as a "
        "recursive CTE. Ref: marketo-bulk-upload/utils.go:216-231, "
        "bing-ads audience/util.go:106-127, lytics utils.go:20-26"
    ),
    tags=("rudder", "router"),
)
def q99(spark, sf):
    from rudder_server_spark.operators.provider_uploads import sequential_accept

    e = load_table(spark, sf, "events").where(F.col("event_id") % 20 == 0)
    pad = F.when(F.col("event_id") % 4 == 0, 400).otherwise(40)
    line = F.concat(
        F.lit('{"message": {"p":"'),
        F.repeat(F.lit("x"), pad),
        F.lit('"}, "metadata": {"job_id": '),
        F.col("event_id").cast("string"),
        F.lit("}}"),
    )
    jobs = e.select(
        F.col("event_id").alias("job_id"),
        F.to_date("ts").alias("upload_day"),
        F.octet_length(line).alias("line_bytes"),
    )
    folded = sequential_accept(
        jobs, "line_bytes", byte_cap=1500,
        order_cols=("job_id",), group_cols=("upload_day",), inclusive=False,
    )
    return (
        folded.groupBy("upload_day")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(F.when(F.col("accepted"), 1).otherwise(0)).alias("n_accepted"),
            F.sum(F.when(F.col("accepted"), F.col("line_bytes")).otherwise(0)).alias(
                "accepted_bytes"
            ),
        )
        .orderBy("upload_day")
    )


# --------------------------------------------------------------------------
# Q100 snowpipe-streaming lifecycle — router/batchrouter/
# asyncdestinationmanager/snowpipestreaming/: per-table event grouping with
# max-insert-request-size splitting (included/overflowed/oversized —
# snowpipestreaming.go:394-430), channel insert descriptors with
# offset = latest job id (:436-515), the two pre-insert duplicate probes
# (:517-581), the poll-time committed/inserted offset verdict (:790-831)
# and per-job finalization with lost-range semantics (:1110-1163). The
# channel statuses are synthesized per table to hit every verdict branch
# (imported / failed-with-range / in-progress / missing / unexpected).
# Spark plan: ONE window exchange on the table key for the split, then
# bounded-dimension broadcasts for everything downstream.
@register(
    "q100_snowpipe_streaming",
    """
    WITH ev AS (
      SELECT event_id AS job_id,
             CASE event_type WHEN 'purchase' THEN 'TRACKS'
                             WHEN 'click' THEN 'PAGES'
                             WHEN 'view' THEN 'SCREENS'
                             WHEN 'signup' THEN 'IDENTIFIES'
                             ELSE 'USERS' END AS tbl,
             'id-' || CAST(event_id % 20 AS VARCHAR) AS id,
             octet_length(encode(
               '{"ID":"id-' || CAST(event_id % 20 AS VARCHAR)
               || '","EVENT":"' || event_type || '"'
               || CASE WHEN event_id % 97 = 0
                       THEN ',"P":"' || repeat('x', 6000) || '"'
                       ELSE '' END || '}'
             )) AS sz
      FROM events
    ),
    no AS (
      SELECT *,
             2 + sum(sz) OVER w + (row_number() OVER w - 1) AS cum
      FROM ev WHERE sz <= 5000
      WINDOW w AS (PARTITION BY tbl ORDER BY job_id ROWS UNBOUNDED PRECEDING)
    ),
    split AS (
      SELECT job_id, tbl, id, sz,
             CASE WHEN cum <= 5000 THEN 'included' ELSE 'overflowed' END AS disposition
      FROM no
      UNION ALL
      SELECT job_id, tbl, id, sz, 'oversized' FROM ev WHERE sz > 5000
    ),
    inc AS (SELECT * FROM split WHERE disposition = 'included'),
    infos AS (
      SELECT tbl, max(job_id) AS off, count(*) AS cnt FROM inc GROUP BY tbl
    ),
    st AS (
      SELECT tbl,
             CASE tbl WHEN 'TRACKS' THEN off
                      WHEN 'PAGES' THEN off // 2
                      WHEN 'SCREENS' THEN off // 2
                      WHEN 'USERS' THEN off + 3 END AS committed,
             CASE tbl WHEN 'TRACKS' THEN off
                      WHEN 'PAGES' THEN off - 1
                      WHEN 'SCREENS' THEN off + 5
                      WHEN 'USERS' THEN off + 3 END AS inserted
      FROM infos WHERE tbl <> 'IDENTIFIES'
    ),
    verd AS (
      SELECT i.tbl, i.off, i.cnt, s.committed,
             CASE WHEN s.committed IS NULL THEN 'in_progress'
                  WHEN s.committed = i.off THEN 'imported'
                  WHEN s.inserted < i.off THEN 'failed'
                  WHEN s.inserted > s.committed THEN 'in_progress'
                  ELSE 'failed' END AS verdict,
             CASE WHEN s.inserted < i.off THEN s.committed + 1 END AS fs,
             CASE WHEN s.inserted < i.off THEN i.off END AS fe
      FROM infos i LEFT JOIN st s USING (tbl)
    ),
    fin AS (
      SELECT inc.tbl,
             CASE WHEN v.verdict = 'in_progress' THEN 'importing'
                  WHEN v.verdict = 'imported' THEN 'succeeded'
                  WHEN v.fs IS NULL THEN 'failed'
                  WHEN inc.job_id BETWEEN v.fs AND v.fe THEN 'failed'
                  ELSE 'succeeded' END AS state
      FROM inc JOIN verd v USING (tbl)
    ),
    dispo AS (
      SELECT tbl,
             CAST(sum(CASE WHEN disposition = 'included' THEN 1 ELSE 0 END) AS BIGINT) AS n_included,
             CAST(sum(CASE WHEN disposition = 'overflowed' THEN 1 ELSE 0 END) AS BIGINT) AS n_overflowed,
             CAST(sum(CASE WHEN disposition = 'oversized' THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized
      FROM split GROUP BY tbl
    ),
    dups AS (
      SELECT inc.tbl,
             CASE WHEN inc.tbl = 'USERS' THEN 0
                  ELSE count(inc.id) - count(DISTINCT inc.id) END AS dup_in_batch,
             CAST(sum(CASE WHEN inc.tbl <> 'USERS' AND v.committed IS NOT NULL
                            AND inc.job_id <= v.committed
                           THEN 1 ELSE 0 END) AS BIGINT) AS dup_due_to_offset
      FROM inc JOIN verd v USING (tbl) GROUP BY inc.tbl
    ),
    states AS (
      SELECT tbl,
             CAST(sum(CASE WHEN state = 'succeeded' THEN 1 ELSE 0 END) AS BIGINT) AS n_succeeded,
             CAST(sum(CASE WHEN state = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
             CAST(sum(CASE WHEN state = 'importing' THEN 1 ELSE 0 END) AS BIGINT) AS n_importing
      FROM fin GROUP BY tbl
    )
    SELECT d.tbl AS "table", d.n_included, d.n_overflowed, d.n_oversized,
           CAST(v.off AS BIGINT) AS chan_offset, v.verdict,
           CAST(u.dup_in_batch AS BIGINT) AS dup_in_batch, u.dup_due_to_offset,
           s.n_succeeded, s.n_failed, s.n_importing
    FROM dispo d
    JOIN verd v ON v.tbl = d.tbl
    JOIN dups u ON u.tbl = d.tbl
    JOIN states s ON s.tbl = d.tbl
    ORDER BY d.tbl
    """,
    doc=(
        "Snowpipe-streaming insert lifecycle: per-table max-insert-size "
        "split (window cumsum — the reference's break is prefix-monotone), "
        "channel offsets, duplicate probes (batch + committed-offset), "
        "poll verdicts over committed/inserted offsets, per-job "
        "finalization with lost-range semantics. Ref: snowpipestreaming."
        "go:394-430,436-515,517-581,790-831,1110-1163"
    ),
    tags=("rudder", "router"),
)
def q100(spark, sf):
    from rudder_server_spark.operators import snowpipe as SP

    e = load_table(spark, sf, "events")
    eid = F.col("event_id")
    tbl = (
        F.when(F.col("event_type") == "purchase", "TRACKS")
        .when(F.col("event_type") == "click", "PAGES")
        .when(F.col("event_type") == "view", "SCREENS")
        .when(F.col("event_type") == "signup", "IDENTIFIES")
        .otherwise("USERS")
    )
    rid = F.concat(F.lit("id-"), (eid % 20).cast("string"))
    data = F.concat(
        F.lit('{"ID":"'), rid, F.lit('","EVENT":"'), F.col("event_type"),
        F.lit('"'),
        F.when(
            eid % 97 == 0,
            F.concat(F.lit(',"P":"'), F.repeat(F.lit("x"), 6000), F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    events = e.select(
        eid.alias("job_id"), tbl.alias("table"), rid.alias("id"),
        F.octet_length(data).alias("data_bytes"),
    )
    # the split fold feeds four subtrees (dispositions, upload infos,
    # dup stats, finalize) — evaluate its window once
    split = SP.split_insert_requests(events, 5000).localCheckpoint(eager=False)
    inc = split.where(F.col("disposition") == "included")
    infos = SP.upload_infos(inc)
    statuses = infos.where(F.col("table") != "IDENTIFIES").select(
        "channel_id",
        F.when(F.col("table") == "TRACKS", F.col("offset"))
        .when(F.col("table").isin("PAGES", "SCREENS"), (F.col("offset") / 2).cast("long"))
        .otherwise(F.col("offset") + 3)
        .alias("committed_offset"),
        F.when(F.col("table") == "TRACKS", F.col("offset"))
        .when(F.col("table") == "PAGES", F.col("offset") - 1)
        .when(F.col("table") == "SCREENS", F.col("offset") + 5)
        .otherwise(F.col("offset") + 3)
        .alias("latest_inserted_offset"),
        F.lit(True).alias("valid"), F.lit(True).alias("success"),
    )
    verdicts = SP.poll_import_status(infos, statuses)
    fin = SP.finalize_snowpipe_jobs(inc.select("table", "job_id"), verdicts)
    dispo = split.groupBy("table").agg(
        F.sum(F.when(F.col("disposition") == "included", 1).otherwise(0)).alias("n_included"),
        F.sum(F.when(F.col("disposition") == "overflowed", 1).otherwise(0)).alias("n_overflowed"),
        F.sum(F.when(F.col("disposition") == "oversized", 1).otherwise(0)).alias("n_oversized"),
    )
    dups = SP.duplicate_stats(inc, statuses)
    states = fin.groupBy("table").agg(
        F.sum(F.when(F.col("final_state") == "succeeded", 1).otherwise(0)).alias("n_succeeded"),
        F.sum(F.when(F.col("final_state") == "failed", 1).otherwise(0)).alias("n_failed"),
        F.sum(F.when(F.col("final_state") == "importing", 1).otherwise(0)).alias("n_importing"),
    )
    return (
        dispo.join(verdicts.select("table", F.col("offset").alias("chan_offset"), "verdict"), "table")
        .join(dups, "table")
        .join(states, "table")
        .select(
            "table", "n_included", "n_overflowed", "n_oversized",
            "chan_offset", "verdict", "dup_in_batch", "dup_due_to_offset",
            "n_succeeded", "n_failed", "n_importing",
        )
        .orderBy("table")
    )


# --------------------------------------------------------------------------
# Q101 batch-router circuit breaker — router/batchrouter/circuitbreaker/
# circuitbreaker.go:44-90 (sony/gobreaker: MaxRequests=1, Interval=0,
# ReadyToTrip = consecutive failures >= N) + worker.go:54-59 (Work()
# skips the partition while open). Deterministic batch replay: per
# (destination partition, day) breaker instance over time-ordered upload
# ticks — the Nth consecutive failure opens, ticks inside the timeout are
# skipped WITHOUT recording outcomes, the first tick past the timeout is
# the half-open probe (success closes, failure re-opens). The fold runs
# as bounded applyInPandas per breaker; the oracle replays the same state
# machine as a recursive CTE. The admitted relation is the pre-filter the
# q37 throttled pickup / q38 backoff ladder composes behind.
@register(
    "q101_circuit_breaker",
    """
    WITH RECURSIVE base AS (
      SELECT 'dst-' || CAST(event_id % 4 AS VARCHAR) AS part,
             CAST(ts AS DATE) AS bday, ts,
             event_type IN ('purchase', 'signup', 'view') AS ok
      FROM events WHERE event_id % 10 = 0
    ),
    ticks AS (
      SELECT *, row_number() OVER (PARTITION BY part, bday ORDER BY ts) AS rn
      FROM base
    ),
    fold AS (
      SELECT part, bday, CAST(0 AS BIGINT) AS rn, 0 AS consec,
             FALSE AS is_open, TIMESTAMP '1970-01-01' AS open_until,
             FALSE AS admitted, CAST(NULL AS VARCHAR) AS state_before,
             FALSE AS tripped
      FROM (SELECT DISTINCT part, bday FROM ticks)
      UNION ALL
      SELECT s.part, s.bday, s.rn,
             CASE WHEN s.skip THEN s.pconsec
                  WHEN s.ok THEN 0
                  WHEN s.probe THEN s.pconsec
                  ELSE s.pconsec + 1 END,
             CASE WHEN s.skip THEN TRUE
                  WHEN s.ok THEN FALSE
                  WHEN s.probe THEN TRUE
                  ELSE s.pconsec + 1 >= 2 END,
             CASE WHEN s.skip THEN s.puntil
                  WHEN s.ok THEN TIMESTAMP '1970-01-01'
                  WHEN s.probe THEN s.ts + INTERVAL 1800 SECOND
                  WHEN s.pconsec + 1 >= 2 THEN s.ts + INTERVAL 1800 SECOND
                  ELSE s.puntil END,
             NOT s.skip,
             CASE WHEN s.skip THEN 'open'
                  WHEN s.probe THEN 'half_open'
                  ELSE 'closed' END,
             CASE WHEN s.skip OR s.ok THEN FALSE
                  WHEN s.probe THEN TRUE
                  ELSE s.pconsec + 1 >= 2 END
      FROM (
        SELECT t.part, t.bday, t.rn, t.ts, t.ok,
               f.consec AS pconsec, f.open_until AS puntil,
               (f.is_open AND t.ts < f.open_until) AS skip,
               (f.is_open AND t.ts >= f.open_until) AS probe
        FROM fold f
        JOIN ticks t ON t.part = f.part AND t.bday = f.bday AND t.rn = f.rn + 1
      ) s
    )
    SELECT part, bday,
           CAST(count(*) AS BIGINT) AS n_ticks,
           CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(sum(CASE WHEN tripped THEN 1 ELSE 0 END) AS BIGINT) AS n_tripped,
           CAST(sum(CASE WHEN state_before = 'half_open' THEN 1 ELSE 0 END) AS BIGINT) AS n_probes
    FROM fold WHERE rn > 0
    GROUP BY part, bday ORDER BY part, bday
    """,
    doc=(
        "Circuit-breaker admission replay per (destination, day): "
        "consecutive-failure open, timeout skip window (no outcomes "
        "recorded while open), half-open single-probe admission. Oracle "
        "replays the state machine as a recursive CTE. Ref: "
        "circuitbreaker.go:44-90, worker.go:54-59, partition_worker.go:"
        "192-231"
    ),
    tags=("rudder", "router"),
)
def q101(spark, sf):
    from rudder_server_spark.operators.circuitbreaker import circuit_breaker_replay

    e = load_table(spark, sf, "events").where(F.col("event_id") % 10 == 0)
    ticks = e.select(
        F.concat(F.lit("dst-"), (F.col("event_id") % 4).cast("string")).alias("part"),
        F.to_date("ts").alias("bday"),
        F.col("ts"),
        F.col("event_type").isin("purchase", "signup", "view").alias("ok"),
    )
    replayed = circuit_breaker_replay(
        ticks, consecutive_failures=2, timeout_s=1800.0,
        partition_cols=("part", "bday"),
    )
    return (
        replayed.groupBy("part", "bday")
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias("n_admitted"),
            F.sum(F.when(F.col("tripped"), 1).otherwise(0)).alias("n_tripped"),
            F.sum(F.when(F.col("state_before") == "half_open", 1).otherwise(0)).alias(
                "n_probes"
            ),
        )
        .orderBy("part", "bday")
    )



# --------------------------------------------------------------------------
# Q102 provider upload shapes, part 2 — eloqua, salesforce bulk, sftp,
# yandex metrica (router/batchrouter/asyncdestinationmanager/): with q98
# (marketo, bing-ads x2, lytics), q100 (snowpipe) and q103 (klaviyo) every
# provider in the async tree has an oracle-checked shape. Per (provider,
# day-group): row / skipped counts and min/max of the EXACT CSV lines —
# pinning header derivation (first-event keys for eloqua/sftp, sorted
# union for salesforce, id-priority column for yandex incl. the
# first-id-invalid whole-group abort), FormatCSVValue vs fmt-%v cell
# semantics, and the sha256 upsert-key correlation hash.
@register(
    "q102_provider_upload_shapes2",
    """
    WITH base AS (
      SELECT event_id AS eid, user_id AS uid, CAST(ts AS DATE) AS bday,
             event_type AS et
      FROM events
    ),
    elq_docs AS (
      -- the SAME routed JSON document the engine synthesizes per event
      SELECT eid, bday,
             '{"message":{"type":"track","customObjectId":"orders","identifierFieldName":"email","data":{"email":"u'
             || CAST(uid AS VARCHAR) || '@example.com","qty":'
             || CASE WHEN eid % 3 <> 0 THEN '"q' || CAST(eid % 5 AS VARCHAR) || '"'
                     ELSE CAST(eid % 5 AS VARCHAR) END
             || ',"note":'
             || CASE WHEN eid % 7 = 0 THEN '"null"' ELSE '"n"' END
             || '}}}' AS payload
      FROM base
    ),
    elq_hdr AS (
      -- getEventDetails: the group's FIRST event fixes the header from
      -- its data keys (document order)
      SELECT bday, arg_min(json_keys(payload, '$.message.data'), eid) AS headers
      FROM elq_docs GROUP BY bday
    ),
    elq_rows AS (
      -- string-only cells: non-strings and the literal "null" render ''
      SELECT d.bday,
             array_to_string(list_transform(h.headers, k ->
               CASE WHEN json_type(d.payload, '$.message.data.' || k) = 'VARCHAR'
                     AND json_extract_string(d.payload, '$.message.data.' || k) <> 'null'
                    THEN json_extract_string(d.payload, '$.message.data.' || k)
                    ELSE '' END), ',') AS line
      FROM elq_docs d JOIN elq_hdr h USING (bday)
    ),
    eloqua AS (
      SELECT 'eloqua' AS provider, bday,
             CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_out,
             min(line) AS min_line, max(line) AS max_line,
             CAST(NULL AS VARCHAR) AS min_hash, CAST(NULL AS VARCHAR) AS max_hash
      FROM elq_rows GROUP BY bday
    ),
    sf_docs AS (
      SELECT eid, bday,
             '{"message":{"Email":"u' || CAST(uid AS VARCHAR) || '@example.com","Amount":'
             || CAST(eid % 100 AS VARCHAR)
             || CASE WHEN eid % 4 = 0 THEN ',"Tags":["' || et || '"]' ELSE '' END
             || CASE WHEN eid % 5 = 0 THEN ',"Plan":"pro"' ELSE '' END
             || '}}' AS payload
      FROM base
    ),
    sf_hdr AS (
      -- sorted union of every row's message key set
      SELECT bday,
             list_sort(list_distinct(flatten(list(json_keys(payload, '$.message'))))) AS headers
      FROM sf_docs GROUP BY bday
    ),
    sf_rows AS (
      -- FormatCSVValue: strings as-is, scalars via JSON text, composites
      -- via their JSON text (then Go-csv escaped); absent -> ''
      SELECT d.bday,
             array_to_string(list_transform(h.headers, k ->
               CASE WHEN json_type(d.payload, '$.message.' || k) IS NULL THEN ''
                    WHEN json_type(d.payload, '$.message.' || k) IN ('ARRAY', 'OBJECT') THEN
                      '"' || replace(CAST(json_extract(d.payload, '$.message.' || k) AS VARCHAR), '"', '""') || '"'
                    ELSE json_extract_string(d.payload, '$.message.' || k) END), ',') AS line,
             sha256(json_extract_string(d.payload, '$.message.Email')) AS h
      FROM sf_docs d JOIN sf_hdr h USING (bday)
    ),
    salesforce AS (
      SELECT 'salesforce' AS provider, bday,
             CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             min(line), max(line), min(h), max(h)
      FROM sf_rows GROUP BY bday
    ),
    sftp_docs AS (
      SELECT eid, bday,
             '{"message":{"action":"'
             || CASE eid % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update' ELSE 'delete' END
             || '","fields":{"email":"u' || CAST(uid AS VARCHAR) || '@example.com","score":'
             || CASE WHEN eid % 6 = 0 THEN 'null' ELSE CAST(eid % 50 AS VARCHAR) END
             || '}}}' AS payload
      FROM base
    ),
    sftp_rows AS (
      -- fields in document order + action; Go %v of nil -> '<nil>'
      SELECT bday,
             CASE WHEN json_type(payload, '$.message.fields.email') = 'NULL' THEN '<nil>'
                  ELSE json_extract_string(payload, '$.message.fields.email') END
             || ',' ||
             CASE WHEN json_type(payload, '$.message.fields.score') = 'NULL' THEN '<nil>'
                  ELSE json_extract_string(payload, '$.message.fields.score') END
             || ',' || json_extract_string(payload, '$.message.action') AS line
      FROM sftp_docs
    ),
    sftp AS (
      SELECT 'sftp' AS provider, bday,
             CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             min(line), max(line),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM sftp_rows GROUP BY bday
    ),
    ym_docs AS (
      SELECT eid, bday,
             '{"message":{"'
             || CASE eid % 3 WHEN 0 THEN 'ClientId' WHEN 1 THEN 'Yclid' ELSE 'UserId' END
             || '":'
             || CASE WHEN eid % 11 = 0 THEN CAST(eid AS VARCHAR)
                     ELSE '"' || CASE eid % 3 WHEN 0 THEN 'c-' WHEN 1 THEN 'y-' ELSE 'us-' END
                          || CAST(eid AS VARCHAR) || '"' END
             || ',"Target":'
             || CASE WHEN eid % 2 = 0 THEN '""' ELSE '"t' || CAST(eid % 9 AS VARCHAR) || '"' END
             || ',"DateTime":"2024-01-01T00:00:00","Price":'
             || CAST(eid % 97 AS VARCHAR)
             || CASE eid % 4 WHEN 0 THEN '' WHEN 1 THEN '.25' WHEN 2 THEN '.5' ELSE '.75' END
             || ',"Currency":"RUB"}}' AS payload
      FROM base
    ),
    ym AS (
      -- id priority ClientId > Yclid > UserId; a present non-string id is
      -- the getID error (row skip / first-row group abort)
      SELECT bday, eid,
             eid = (min(eid) OVER (PARTITION BY bday)) AS is_first,
             CASE WHEN json_type(payload, '$.message.ClientId') IS NOT NULL THEN
                    CASE WHEN json_type(payload, '$.message.ClientId') = 'VARCHAR'
                         THEN json_extract_string(payload, '$.message.ClientId') END
                  WHEN json_type(payload, '$.message.Yclid') IS NOT NULL THEN
                    CASE WHEN json_type(payload, '$.message.Yclid') = 'VARCHAR'
                         THEN json_extract_string(payload, '$.message.Yclid') END
                  WHEN json_type(payload, '$.message.UserId') IS NOT NULL THEN
                    CASE WHEN json_type(payload, '$.message.UserId') = 'VARCHAR'
                         THEN json_extract_string(payload, '$.message.UserId') END
             END AS rid,
             CASE WHEN json_extract_string(payload, '$.message.Target') = ''
                  THEN 'g-default'
                  ELSE json_extract_string(payload, '$.message.Target') END AS target,
             json_extract_string(payload, '$.message.DateTime') AS dt,
             json_extract_string(payload, '$.message.Price') AS price,
             json_extract_string(payload, '$.message.Currency') AS cur
      FROM ym_docs
    ),
    ym_groups AS (
      SELECT bday, bool_or(is_first AND rid IS NULL) AS group_failed
      FROM ym GROUP BY bday
    ),
    yandex AS (
      SELECT 'yandex' AS provider, m.bday,
             CAST(sum(CASE WHEN NOT g.group_failed AND m.rid IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN g.group_failed OR m.rid IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT),
             min(CASE WHEN NOT g.group_failed THEN m.line END),
             max(CASE WHEN NOT g.group_failed THEN m.line END),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM (
        SELECT bday, rid,
               CASE WHEN rid IS NOT NULL THEN
                 rid || ',' || target || ',' || dt || ',' || price || ',' || cur
               END AS line
        FROM ym
      ) m JOIN ym_groups g USING (bday)
      GROUP BY m.bday
    )
    SELECT provider, bday, n_rows, n_out, min_line, max_line, min_hash, max_hash
    FROM (
      SELECT * FROM eloqua UNION ALL SELECT * FROM salesforce
      UNION ALL SELECT * FROM sftp UNION ALL SELECT * FROM yandex
    ) ORDER BY provider, bday
    """,
    doc=(
        "Async-provider bulk-file shapes, part 2: eloqua first-event CSV "
        "with string-only values, salesforce sorted-union header + "
        "FormatCSVValue + sha256 upsert-key hash, sftp fields+action CSV "
        "with Go %v nil cells, yandex id-priority CSV with non-string-id "
        "row skips and the first-id-invalid group abort. Ref: eloqua/"
        "utils.go:24-131, salesforce-bulk-upload/utils.go:25-152, "
        "sftp/utils.go:47-199, yandexmetrica/yandexmetrica.go:40-205"
    ),
    tags=("rudder", "router"),
)
def q102(spark, sf):
    from rudder_server_spark.operators.provider_uploads import go_csv_line
    from rudder_server_spark.operators.provider_uploads2 import (
        eloqua_render,
        salesforce_render,
        sftp_render,
        yandex_extract,
    )

    # FUSED single-pass audit (the q91/q96 chaining pattern applied to the
    # Python-rendered providers): the r8 shape ran FOUR separate
    # mapInPandas passes over a persisted base — four Arrow exchanges,
    # four cache scans, ~8 shuffles, then a 4-way union. Here the four
    # provider documents are built in ONE projection, per-group headers
    # come from ONE tiny aggregate (+ first-row derivations on group-count
    # rows), every provider's per-row render (the SAME closures the
    # individual operators use) runs in ONE Arrow pass, and ONE grouped
    # aggregate + stack unpivots to the audit rows. The per-provider
    # operators (eloqua_csv_rows etc.) keep their own admission/group-
    # error surface and unit coverage; this audit pins the rendered
    # values and hashes end-to-end.
    eid, uid = F.col("event_id"), F.col("user_id").cast("string")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.concat(F.lit("u"), uid, F.lit("@example.com"))

    elq_doc = F.concat(
        F.lit('{"message":{"type":"track","customObjectId":"orders",'
              '"identifierFieldName":"email","data":{"email":"'),
        email,
        F.lit('","qty":'),
        F.when(eid % 3 != 0, F.concat(F.lit('"q'), s(eid % 5), F.lit('"')))
        .otherwise(s(eid % 5)),
        F.lit(',"note":'),
        F.when(eid % 7 == 0, F.lit('"null"')).otherwise(F.lit('"n"')),
        F.lit("}}}"),
    )
    sf_doc = F.concat(
        F.lit('{"message":{"Email":"'), email, F.lit('","Amount":'), s(eid % 100),
        F.when(eid % 4 == 0,
               F.concat(F.lit(',"Tags":["'), F.col("event_type"), F.lit('"]'))
               ).otherwise(F.lit("")),
        F.when(eid % 5 == 0, F.lit(',"Plan":"pro"')).otherwise(F.lit("")),
        F.lit("}}"),
    )
    sftp_doc = F.concat(
        F.lit('{"message":{"action":"'),
        F.when(eid % 3 == 0, "insert").when(eid % 3 == 1, "update").otherwise("delete"),
        F.lit('","fields":{"email":"'), email, F.lit('","score":'),
        F.when(eid % 6 == 0, F.lit("null")).otherwise(s(eid % 50)),
        F.lit("}}}"),
    )
    ym_id = F.concat(
        F.when(eid % 3 == 0, "c-").when(eid % 3 == 1, "y-").otherwise("us-"), s(eid)
    )
    id_field = (
        F.when(eid % 3 == 0, "ClientId").when(eid % 3 == 1, "Yclid").otherwise("UserId")
    )
    id_member = F.concat(
        F.lit('"'), id_field, F.lit('":'),
        F.when(eid % 11 == 0, s(eid)).otherwise(F.concat(F.lit('"'), ym_id, F.lit('"'))),
    )
    ym_doc = F.concat(
        F.lit('{"message":{'), id_member,
        F.lit(',"Target":'),
        F.when(eid % 2 == 0, F.lit('""')).otherwise(
            F.concat(F.lit('"t'), s(eid % 9), F.lit('"'))
        ),
        F.lit(',"DateTime":"2024-01-01T00:00:00","Price":'),
        F.concat(
            s(eid % 97),
            F.when(eid % 4 == 0, "").when(eid % 4 == 1, ".25")
            .when(eid % 4 == 2, ".5").otherwise(".75"),
        ),
        F.lit(',"Currency":"RUB"}}'),
    )

    docs = fan_out(
        load_table(spark, sf, "events").select("event_id", "user_id", "ts", "event_type"),
        spark,
        paths=[os.path.join(sf, "events.parquet")],
    ).select(
        eid.alias("job_id"),
        F.to_date("ts").alias("bday"),
        elq_doc.alias("_elq"),
        sf_doc.alias("_sfd"),
        sftp_doc.alias("_sfp"),
        ym_doc.alias("_ym"),
        # salesforce header = sorted union of every row's message keys —
        # per-row by construction, feeds the one header aggregate
        F.json_object_keys(F.get_json_object(sf_doc, "$.message")).alias("_sfk"),
    )

    # ONE header aggregate: first job id per day (for the eloqua/sftp
    # first-event headers) + the salesforce sorted-union header
    agg1 = docs.groupBy("bday").agg(
        F.min("job_id").alias("_fid"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_sfk"))))
        .alias("_sf_hdr"),
    )
    first_rows = (
        docs.alias("__d")
        .join(
            F.broadcast(agg1.select("bday", "_fid")).alias("__a"),
            (F.col("__d.bday") == F.col("__a.bday"))
            & (F.col("__d.job_id") == F.col("__a._fid")),
        )
        .select(F.col("__d.bday").alias("bday"), "__d._elq", "__d._sfp")
    )
    mtype = F.get_json_object(F.col("_elq"), "$.message.type")
    obj_id = F.get_json_object(F.col("_elq"), "$.message.customObjectId")
    valid_first = (
        ((mtype == "track") & (obj_id != "") & obj_id.isNotNull())
        | ((mtype == "identify") & (obj_id == "contacts"))
    )
    firsts = first_rows.select(
        "bday",
        F.when(
            valid_first,
            F.json_object_keys(F.get_json_object(F.col("_elq"), "$.message.data")),
        ).alias("_elq_hdr"),
        F.array_append(
            F.json_object_keys(F.get_json_object(F.col("_sfp"), "$.message.fields")),
            F.lit("action"),
        ).alias("_sftp_hdr"),
    )
    hdr = agg1.select("bday", "_sf_hdr").join(firsts, "bday")
    joined = docs.drop("_sfk").join(F.broadcast(hdr), "bday")

    # ONE Arrow pass composing the four providers' own render closures
    elq_r, sf_r = eloqua_render(), salesforce_render("Email")
    sftp_r, ym_x = sftp_render(), yandex_extract()

    def fused(elq_hdr, elq, sf_hdr, sfd, sftp_hdr, sfp, ym):
        elq_line, _ = elq_r(elq_hdr, elq)
        sf_line, sf_ext = sf_r(sf_hdr, sfd)
        (sftp_line,) = sftp_r(sftp_hdr, sfp)
        rid, hdr_, tgt, dt, price, cur = ym_x(ym)
        return (elq_line, sf_line, sf_ext, sftp_line, rid, hdr_, tgt, dt, price, cur)

    from rudder_server_spark.operators.provider_uploads2 import _rendered

    rendered = _rendered(
        joined,
        fused,
        ("_elq_hdr", "_elq", "_sf_hdr", "_sfd", "_sftp_hdr", "_sfp", "_ym"),
        ("_elq_line", "_sf_line", "_sf_ext", "_sftp_line",
         "_ym_rid", "_ym_hdr", "_ym_tgt", "_ym_dt", "_ym_price", "_ym_cur"),
    )
    target = F.when(F.col("_ym_tgt") != "", F.col("_ym_tgt")).otherwise(
        F.lit("g-default")
    )
    ym_line = F.when(
        F.col("_ym_rid").isNotNull(),
        go_csv_line(
            [F.col("_ym_rid"), target, F.col("_ym_dt"),
             F.col("_ym_price"), F.col("_ym_cur")]
        ),
    )
    shaped = rendered.select(
        "bday", "job_id", "_elq_line", "_sf_line", "_sftp_line",
        F.sha2(F.col("_sf_ext"), 256).alias("_sf_hash"),
        F.col("_ym_rid").isNull().alias("_ym_skip"),
        F.col("_ym_hdr").isNull().alias("_ym_bad"),
        ym_line.alias("_ym_line"),
    )

    cnt = F.count("*").cast("long")
    agg = shaped.groupBy("bday").agg(
        cnt.alias("n"),
        F.min("_elq_line").alias("e_min"), F.max("_elq_line").alias("e_max"),
        F.min("_sf_line").alias("s_min"), F.max("_sf_line").alias("s_max"),
        F.min("_sf_hash").alias("h_min"), F.max("_sf_hash").alias("h_max"),
        F.min("_sftp_line").alias("p_min"), F.max("_sftp_line").alias("p_max"),
        # first message's id invalid -> whole day aborts (getID error on
        # ymMsgsBody[0]); min_by picks the first row's verdict
        F.min_by("_ym_bad", "job_id").alias("y_failed"),
        F.sum(F.when(~F.col("_ym_skip"), 1).otherwise(0)).cast("long").alias("y_valid"),
        F.sum(F.when(F.col("_ym_skip"), 1).otherwise(0)).cast("long").alias("y_skip"),
        F.min("_ym_line").alias("y_min"), F.max("_ym_line").alias("y_max"),
    )
    nulls = "CAST(NULL AS STRING)"
    yf = F.col("y_failed")
    agg = agg.select(
        "*",
        F.when(yf, F.lit(0).cast("long")).otherwise(F.col("y_valid")).alias("y_rows"),
        F.when(yf, F.col("n")).otherwise(F.col("y_skip")).alias("y_out"),
        F.when(~yf, F.col("y_min")).alias("y_minl"),
        F.when(~yf, F.col("y_max")).alias("y_maxl"),
    )
    return (
        agg.select(
            "bday",
            F.expr(
                "stack(4, "
                "'eloqua', n, CAST(0 AS BIGINT), e_min, e_max, "
                f"{nulls}, {nulls}, "
                "'salesforce', n, CAST(0 AS BIGINT), s_min, s_max, h_min, h_max, "
                "'sftp', n, CAST(0 AS BIGINT), p_min, p_max, "
                f"{nulls}, {nulls}, "
                "'yandex', y_rows, y_out, y_minl, y_maxl, "
                f"{nulls}, {nulls}"
                ") AS (provider, n_rows, n_out, min_line, max_line, min_hash, max_hash)"
            ),
        )
        .select(
            "provider", "bday", "n_rows", "n_out",
            "min_line", "max_line", "min_hash", "max_hash",
        )
        .orderBy("provider", "bday")
    )


# --------------------------------------------------------------------------
# Q103 klaviyo profile chunking — klaviyobulkupload.go:83-117
# chunkBySizeAndElements: profiles segmented into import jobs by
# cumulative marshalled bytes (+1 comma each) and element count — chunk
# boundaries depend on prior boundaries, so this is the third genuine
# fold in the async tree (with q99's admission cap and q101's breaker).
# Per (day): chunk count, profile count, the largest chunk's bytes and
# elements, and the total payload-envelope length (createFinalPayload
# wrapping pinned byte-exactly). Oracle replays the segmentation as a
# recursive CTE on an event slice.
@register(
    "q103_klaviyo_chunks",
    """
    WITH RECURSIVE profiles AS (
      SELECT event_id AS job_id, CAST(ts AS DATE) AS bday,
             '{"type":"profile","attributes":{"email":"u'
             || CAST(user_id AS VARCHAR) || '@example.com"'
             || CASE WHEN event_id % 9 = 0
                     THEN ',"properties":{"pad":"' || repeat('x', 120) || '"}'
                     ELSE '' END
             || '}}' AS profile_json
      FROM events WHERE event_id % 20 = 0
    ),
    seq AS (
      SELECT *, octet_length(encode(profile_json)) + 1 AS psize,
             row_number() OVER (PARTITION BY bday ORDER BY job_id) AS rn
      FROM profiles
    ),
    fold AS (
      SELECT bday, CAST(0 AS BIGINT) AS rn, 0 AS chunk_idx,
             CAST(0 AS BIGINT) AS csize, 0 AS ccount, CAST(NULL AS BIGINT) AS psize
      FROM (SELECT DISTINCT bday FROM seq)
      UNION ALL
      SELECT t.bday, t.rn,
             CASE WHEN (f.csize + t.psize >= 300 OR f.ccount = 4) AND f.ccount > 0
                  THEN f.chunk_idx + 1 ELSE f.chunk_idx END,
             CASE WHEN (f.csize + t.psize >= 300 OR f.ccount = 4) AND f.ccount > 0
                  THEN t.psize ELSE f.csize + t.psize END,
             CASE WHEN (f.csize + t.psize >= 300 OR f.ccount = 4) AND f.ccount > 0
                  THEN 1 ELSE f.ccount + 1 END,
             t.psize
      FROM fold f JOIN seq t ON t.bday = f.bday AND t.rn = f.rn + 1
    ),
    chunks AS (
      -- createFinalPayload (no list id): 76-byte prefix
      -- '{"data":{"type":"profile-bulk-import-job","attributes":
      -- {"profiles":{"data":[' + profiles joined with ',' + 5-byte
      -- ']}}}}'; psize counts each profile +1 comma, so joined bytes =
      -- sum(psize) - n + (n - 1)
      SELECT f.bday, f.chunk_idx,
             count(*) AS n_profiles,
             sum(f.psize) AS chunk_bytes,
             76 + (sum(f.psize) - count(*)) + (count(*) - 1) + 5 AS payload_bytes
      FROM fold f WHERE f.rn > 0
      GROUP BY f.bday, f.chunk_idx
    )
    SELECT bday,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_profiles) AS BIGINT) AS n_profiles,
           CAST(max(chunk_bytes) AS BIGINT) AS max_chunk_bytes,
           CAST(max(n_profiles) AS BIGINT) AS max_chunk_elements,
           CAST(sum(payload_bytes) AS BIGINT) AS payload_bytes
    FROM chunks GROUP BY bday ORDER BY bday
    """,
    doc=(
        "Klaviyo bulk-import chunking: profiles segmented by cumulative "
        "marshalled size (+1 comma) and element count into import jobs, "
        "each wrapped in the profile-bulk-import-job envelope (byte-exact "
        "payload length pinned). Oracle replays the segmentation fold as "
        "a recursive CTE. Ref: klaviyobulkupload.go:37-117"
    ),
    tags=("rudder", "router"),
)
def q103(spark, sf):
    from rudder_server_spark.operators.provider_uploads2 import (
        klaviyo_chunks,
        klaviyo_payloads,
    )

    e = load_table(spark, sf, "events").where(F.col("event_id") % 20 == 0)
    profile = F.concat(
        F.lit('{"type":"profile","attributes":{"email":"u'),
        F.col("user_id").cast("string"),
        F.lit('@example.com"'),
        F.when(
            F.col("event_id") % 9 == 0,
            F.concat(F.lit(',"properties":{"pad":"'), F.repeat(F.lit("x"), 120),
                     F.lit('"}')),
        ).otherwise(F.lit("")),
        F.lit("}}"),
    )
    profiles = e.select(
        F.col("event_id").alias("job_id"),
        F.to_date("ts").alias("bday"),
        profile.alias("profile_json"),
    )
    chunked = klaviyo_chunks(
        profiles, max_bytes=300, max_elements=4, group_cols=("bday",)
    )
    pays = klaviyo_payloads(chunked, group_cols=("bday",))
    chunk_stats = chunked.groupBy("bday", "chunk_index").agg(
        F.count("*").alias("n_profiles"),
        F.sum(F.octet_length("profile_json") + F.lit(1)).alias("chunk_bytes"),
    )
    return (
        chunk_stats.join(
            pays.select("bday", "chunk_index",
                        F.octet_length("payload").alias("payload_bytes")),
            ["bday", "chunk_index"],
        )
        .groupBy("bday")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_profiles").alias("n_profiles"),
            F.max("chunk_bytes").alias("max_chunk_bytes"),
            F.max("n_profiles").alias("max_chunk_elements"),
            F.sum("payload_bytes").alias("payload_bytes"),
        )
        .orderBy("bday")
    )


# --------------------------------------------------------------------------
# Q104 BQSTREAM_ALL_EVENTS async destination — router/batchrouter/
# asyncdestinationmanager/bqstreamallevents/: the Storage-Write-API
# warehouse streamer. Events synthesized per (upload day, table): stamped
# uuid_ts/loaded_at only where declared (events.go:74-84), greedy
# flush-then-append chunking under maxChunkBytes (:88-126, replayed in the
# oracle as a recursive CTE like q103), first-seen-wins event schema +
# new-column reconcile (:128-138, schemautils.go:14-25), the
# HandleSchemaChange coercion matrix with discards routing (:152-199,
# worker.go:638-696), per-chunk duplicate-id counts with users excluded
# (:201-219), sorted-column encode with datetime→epoch-micros
# (encode.go:41-57,158-177), and per-chunk job verdicts with
# first-error-code abort triage (bqstreamallevents.go:219-257,452-493).
# One audit row per table pins every branch at value level: the byte-exact
# max encoded row, the exact discard line, coercion sums, chunk/dup
# counts, and the succeeded/failed/aborted split under an injected
# append-error seam.
@register(
    "q104_bqstream_all_events",
    """
    WITH RECURSIVE ev AS (
      SELECT event_id, user_id, event_type AS tbl, CAST(ts AS DATE) AS uday,
             date_trunc('second', ts) AS recv_ts,
             100000 + event_id % 100000 AS rev,
             'id-' || CAST(event_id % 7 AS VARCHAR) AS idv,
             strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.000Z' AS recv,
             event_id % 2 = 0 AS badv,
             event_id % 900 AS cnt_i,
             event_id % 5 AS tagk,
             'p-' || CAST(user_id % 50 AS VARCHAR) AS planv
      FROM events
    ),
    lines AS (
      SELECT *,
             octet_length(encode(
               '{"message":{"metadata":{"table":"' || tbl || '","columns":{'
               || '"id":"string","received_at":"datetime"'
               || CASE WHEN tbl <> 'error' THEN ',"uuid_ts":"datetime"' ELSE '' END
               || CASE tbl
                    WHEN 'purchase' THEN ',"revenue":"int","plan":"string","tags":"json"'
                    WHEN 'click'    THEN ',"revenue":"int","bad":"boolean"'
                    WHEN 'view'     THEN ',"count":"float"'
                    WHEN 'signup'   THEN ',"label":"int","loaded_at":"datetime"'
                    ELSE ',"revenue":"int"' END
               || '}},"data":{'
               || '"id":"' || idv || '","received_at":"' || recv || '"'
               || CASE tbl
                    WHEN 'purchase' THEN ',"revenue":' || CAST(rev AS VARCHAR)
                         || ',"plan":"' || planv || '","tags":[' || CAST(tagk AS VARCHAR) || ',"x"]'
                    WHEN 'click'    THEN ',"revenue":' || CAST(rev AS VARCHAR)
                         || ',"bad":' || CASE WHEN badv THEN 'true' ELSE 'false' END
                    WHEN 'view'     THEN ',"count":' || CAST(cnt_i AS VARCHAR) || '.5'
                    WHEN 'signup'   THEN ',"label":' || CAST(rev AS VARCHAR)
                    ELSE ',"revenue":' || CAST(rev AS VARCHAR) END
               || '}},"metadata":{"job_id":' || CAST(event_id AS VARCHAR) || '}}'
             ))
             + CASE WHEN tbl = 'error' THEN 0
                    WHEN tbl = 'signup' THEN 48 ELSE 24 END AS sz
      FROM ev
    ),
    seq AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY uday, tbl ORDER BY event_id) AS rn
        FROM lines
      ) WHERE rn <= 40
    ),
    fold AS (
      SELECT uday, tbl, CAST(0 AS BIGINT) AS rn, 0 AS chunk_idx,
             CAST(0 AS BIGINT) AS csize, CAST(NULL AS BIGINT) AS event_id
      FROM (SELECT DISTINCT uday, tbl FROM seq)
      UNION ALL
      SELECT t.uday, t.tbl, t.rn,
             CASE WHEN f.csize + t.sz > 1200 AND f.csize > 0
                  THEN f.chunk_idx + 1 ELSE f.chunk_idx END,
             CASE WHEN f.csize + t.sz > 1200 AND f.csize > 0
                  THEN t.sz ELSE f.csize + t.sz END,
             t.event_id
      FROM fold f
      JOIN seq t ON t.uday = f.uday AND t.tbl = f.tbl AND t.rn = f.rn + 1
    ),
    chunked AS (
      SELECT s.*, f.chunk_idx FROM seq s
      JOIN fold f ON f.uday = s.uday AND f.tbl = s.tbl AND f.rn = s.rn
    ),
    encoded AS (
      SELECT *,
        CASE tbl
          WHEN 'purchase' THEN
            'id="' || idv || '";plan="' || planv || '";received_at='
            || CAST(epoch_us(recv_ts) AS VARCHAR) || ';revenue='
            || CAST(rev AS VARCHAR) || '.0;tags="[' || CAST(tagk AS VARCHAR)
            || ',\\"x\\"]";uuid_ts=1706659200000000'
          WHEN 'click' THEN
            'id="' || idv || '";received_at=' || CAST(epoch_us(recv_ts) AS VARCHAR)
            || ';revenue=' || CAST(rev AS VARCHAR) || '.0;uuid_ts=1706659200000000'
          WHEN 'view' THEN
            'count=' || CAST(cnt_i AS VARCHAR) || ';id="' || idv
            || '";received_at=' || CAST(epoch_us(recv_ts) AS VARCHAR)
            || ';uuid_ts=1706659200000000'
          WHEN 'signup' THEN
            'id="' || idv || '";label="' || CAST(rev AS VARCHAR)
            || '";loaded_at=1706659200000000;received_at='
            || CAST(epoch_us(recv_ts) AS VARCHAR) || ';uuid_ts=1706659200000000'
          ELSE
            'id="' || idv || '";received_at=' || CAST(epoch_us(recv_ts) AS VARCHAR)
            || ';revenue=' || CAST(rev AS VARCHAR) || '.0' END AS enc_fields
      FROM chunked
    ),
    dups AS (
      SELECT tbl, SUM(cnt - dct) AS dup_ids FROM (
        SELECT tbl, uday, chunk_idx, count(*) AS cnt,
               count(DISTINCT idv) AS dct
        FROM chunked WHERE tbl <> 'users' GROUP BY tbl, uday, chunk_idx
      ) GROUP BY tbl
    ),
    verdicts AS (
      SELECT tbl,
        SUM(CASE WHEN (tbl = 'click' AND chunk_idx = 0)
                   OR (tbl = 'view' AND chunk_idx = 1) THEN 0 ELSE 1 END) AS n_succeeded,
        SUM(CASE WHEN tbl = 'view' AND chunk_idx = 1 THEN 1 ELSE 0 END) AS n_failed,
        SUM(CASE WHEN tbl = 'click' AND chunk_idx = 0 THEN 1 ELSE 0 END) AS n_aborted
      FROM chunked GROUP BY tbl
    )
    SELECT c.tbl AS tbl,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT c.uday || '#' || CAST(c.chunk_idx AS VARCHAR)) AS BIGINT) AS n_chunks,
           CAST(max(d.dup_ids) AS BIGINT) AS dup_ids,
           CAST(CASE c.tbl WHEN 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS n_added_columns,
           CAST(CASE c.tbl WHEN 'click' THEN count(*) ELSE 0 END AS BIGINT) AS n_discards,
           CASE c.tbl WHEN 'click' THEN max(
             'bad|' || CASE WHEN c.badv THEN 'true' ELSE 'false' END
             || '|incompatible schema conversion from int to boolean|' || c.idv
           ) END AS max_discard,
           CAST(ROUND(CAST(sum(CASE WHEN c.tbl IN ('purchase','click','error')
                               THEN c.rev END) AS DECIMAL(18,6)), 6) AS DOUBLE) AS rev_sum,
           CAST(sum(CASE WHEN c.tbl = 'view' THEN c.cnt_i END) AS BIGINT) AS count_sum,
           max(c.enc_fields) AS enc_max,
           CAST(max(v.n_succeeded) AS BIGINT) AS n_succeeded,
           CAST(max(v.n_failed) AS BIGINT) AS n_failed,
           CAST(max(v.n_aborted) AS BIGINT) AS n_aborted
    FROM encoded c
    JOIN dups d ON d.tbl = c.tbl
    JOIN verdicts v ON v.tbl = c.tbl
    GROUP BY c.tbl
    ORDER BY c.tbl
    """,
    doc=(
        "BQSTREAM_ALL_EVENTS lifecycle audit: stamp → greedy chunk (fold "
        "replayed as recursive CTE) → schema reconcile → HandleSchemaChange "
        "coercion + discards → sorted-column encode with epoch-micros "
        "datetimes → per-chunk duplicate ids → per-chunk verdicts with "
        "first-error abort triage. Ref: bqstreamallevents/events.go, "
        "encode.go, schemautils.go, bqstreamallevents.go"
    ),
    tags=("rudder", "router"),
)
def q104(spark, sf):
    from rudder_server_spark.operators import bqstream_events as B

    TS = "2024-01-31T00:00:00.000Z"
    e = load_table(spark, sf, "events")
    t = F.col("event_type")
    rev = (F.lit(100000) + F.col("event_id") % 100000).cast("long").cast("string")
    idv = F.concat(F.lit("id-"), (F.col("event_id") % 7).cast("string"))
    recv = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".000Z"))
    badv = F.when(F.col("event_id") % 2 == 0, "true").otherwise("false")
    cnt_i = (F.col("event_id") % 900).cast("string")
    tagk = (F.col("event_id") % 5).cast("string")
    planv = F.concat(F.lit("p-"), (F.col("user_id") % 50).cast("string"))

    cols_json = F.concat(
        F.lit('{"id":"string","received_at":"datetime"'),
        F.when(t != "error", F.lit(',"uuid_ts":"datetime"')).otherwise(F.lit("")),
        F.when(t == "purchase", F.lit(',"revenue":"int","plan":"string","tags":"json"'))
        .when(t == "click", F.lit(',"revenue":"int","bad":"boolean"'))
        .when(t == "view", F.lit(',"count":"float"'))
        .when(t == "signup", F.lit(',"label":"int","loaded_at":"datetime"'))
        .otherwise(F.lit(',"revenue":"int"')),
        F.lit("}"),
    )
    data_json = F.concat(
        F.lit('"id":"'), idv, F.lit('","received_at":"'), recv, F.lit('"'),
        F.when(
            t == "purchase",
            F.concat(F.lit(',"revenue":'), rev, F.lit(',"plan":"'), planv,
                     F.lit('","tags":['), tagk, F.lit(',"x"]')),
        )
        .when(t == "click", F.concat(F.lit(',"revenue":'), rev, F.lit(',"bad":'), badv))
        .when(t == "view", F.concat(F.lit(',"count":'), cnt_i, F.lit(".5")))
        .when(t == "signup", F.concat(F.lit(',"label":'), rev))
        .otherwise(F.concat(F.lit(',"revenue":'), rev)),
    )
    line = F.concat(
        F.lit('{"message":{"metadata":{"table":"'), t, F.lit('","columns":'),
        cols_json, F.lit('},"data":{'), data_json,
        F.lit('}},"metadata":{"job_id":'), F.col("event_id").cast("string"),
        F.lit("}}"),
    )
    # one async upload file per (day, table), capped at the first 40
    # staged events — the batcher's maxEventsInABatch grain; the cap also
    # bounds the oracle's recursive-fold depth
    picked = e.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy(F.to_date("ts"), t).orderBy("event_id")
        ),
    ).where(F.col("__rn") <= 40)
    src = picked.select(line.alias("line"), F.to_date("ts").alias("uday"))

    stamped = B.stamp_bq_events(B.parse_bq_lines(src), TS)
    # the Arrow fold feeds seven audit branches (coerce, encode, dups,
    # verdicts, seam, per-table counts) — persist the bounded post-fold
    # relation so the fold runs once, not per branch (q91/q96 convention).
    # coalesce(8): the post-fold relation is ≤40×(days×tables) rows, but
    # applyInPandas leaves it on shuffle.partitions partitions (200 under
    # the driver's vanilla session) — without the coalesce every one of
    # the ~10 downstream branch stages schedules 200 near-empty tasks.
    chunked = B.chunk_bq_events(
        stamped.select(
            "uday", "table", "job_id", "columns", "data",
            "message_data_byte_size",
        ),
        max_chunk_bytes=1200,
        group_cols=("uday", "table"),
    ).coalesce(8).persist()

    # first-seen-wins over CHUNKED, not stamped: chunking drops no rows
    # and keeps job_id order, and reading the persisted relation avoids
    # re-running the synthesize+parse+window subtree a second time
    es = B.bq_event_schemas(chunked, group_cols=("table",))
    wh_rows = []
    for tbl in ("purchase", "click", "view", "signup", "error"):
        wh_rows += [(tbl, "id", "string"), (tbl, "received_at", "datetime"),
                    (tbl, "uuid_ts", "datetime")]
    wh_rows += [
        ("purchase", "revenue", "float"), ("purchase", "tags", "json"),
        ("click", "revenue", "float"), ("click", "bad", "int"),
        ("view", "count", "int"),
        ("signup", "label", "string"), ("signup", "loaded_at", "datetime"),
        ("error", "revenue", "float"),
    ]
    wh = local_frame(spark,
        wh_rows, "table string, column_name string, column_type string"
    )
    actions, merged = B.reconcile_bq_schema(es, wh)
    vals, disc = B.coerce_bq_events(chunked, merged, TS)
    vals = vals.persist()  # feeds encode + the two coercion-sum branches
    enc = B.bq_encode_rows(
        vals, merged, group_cols=("table", "uday", "chunk_idx", "job_id")
    )

    # injectable Storage-Write seam: click's first chunk of every upload
    # dies terminal, view's second chunk dies retryable
    seam = chunked.select("uday", "table", "chunk_idx").distinct().withColumn(
        "error_code",
        F.when((F.col("table") == "click") & (F.col("chunk_idx") == 0),
               "Unauthenticated")
        .when((F.col("table") == "view") & (F.col("chunk_idx") == 1), "Internal"),
    )
    verdicts = B.finalize_bq_jobs(chunked, seam, group_cols=("uday", "table"))

    per_table = chunked.groupBy("table").agg(
        F.count("*").alias("n_events"),
        F.count_distinct(
            F.concat(F.col("uday").cast("string"), F.lit("#"),
                     F.col("chunk_idx").cast("string"))
        ).alias("n_chunks"),
    )
    dups = B.bq_duplicate_id_stats(
        chunked, group_cols=("table", "uday")
    ).groupBy("table").agg(F.sum("duplicate_ids").alias("dup_ids"))
    adds = actions.where(F.col("action") == "add_column").groupBy("table").agg(
        F.count("*").alias("n_added_columns")
    )
    discs = disc.groupBy(F.col("table_name").alias("table")).agg(
        F.count("*").alias("n_discards"),
        F.max(
            F.concat_ws("|", "column_name", "column_value", "reason", "row_id")
        ).alias("max_discard"),
    )
    # the two coercion-sum branches share one conditional-agg pass over
    # the persisted long relation (r7 verdict: join-of-aggregates → one
    # groupBy where the sources coincide)
    sums = vals.groupBy("table").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("column_name") == "revenue",
                    F.col("value_json").cast("double").cast("decimal(18,6)"),
                )
            ),
            6,
        ).cast("decimal(18,6)").alias("rev_sum"),
        F.sum(
            F.when(
                (F.col("column_name") == "count") & (F.col("table") == "view"),
                F.col("value_json").cast("long"),
            )
        ).alias("count_sum"),
    )
    encm = enc.groupBy("table").agg(
        F.max(F.array_join("encoded_fields", ";")).alias("enc_max")
    )
    verd = verdicts.groupBy("table").agg(
        F.sum(F.when(F.col("job_state") == "succeeded", 1).otherwise(0)).alias("n_succeeded"),
        F.sum(F.when(F.col("job_state") == "failed", 1).otherwise(0)).alias("n_failed"),
        F.sum(F.when(F.col("job_state") == "aborted", 1).otherwise(0)).alias("n_aborted"),
    )

    out = (
        per_table.join(dups, "table", "left")
        .join(adds, "table", "left")
        .join(discs, "table", "left")
        .join(sums, "table", "left")
        .join(encm, "table", "left")
        .join(verd, "table", "left")
    )
    return out.select(
        F.col("table").alias("tbl"),
        "n_events", "n_chunks",
        F.coalesce("dup_ids", F.lit(0)).alias("dup_ids"),
        F.coalesce("n_added_columns", F.lit(0)).alias("n_added_columns"),
        F.coalesce("n_discards", F.lit(0)).alias("n_discards"),
        "max_discard",
        F.col("rev_sum").cast("double").alias("rev_sum"),
        "count_sum", "enc_max", "n_succeeded", "n_failed", "n_aborted",
    ).orderBy("tbl")


# --------------------------------------------------------------------------
# Q105 user-transformation mirroring sanity diff — processor/processor.go's
# utMirroring sampled shadow-comparison (:3225-3400) + types.go
# EqualDetailed (:277-312): primary vs mirror transformer responses,
# strict-then-lax (datetime-forgiven) equality, mirror-filtered
# short-circuit, and the per-field diff content that would be uploaded for
# differing batches. Cohorts are synthesized per event: identical /
# datetime-shifted (forgiven) / revenue-bumped (different, field diff
# 'revenue') / dropped-from-mirror (length mismatch) / a mirror-filtered
# transformation. Ref: processor/ut_mirroring_test.go shapes.
@register(
    "q105_ut_mirror_diff",
    """
    WITH ev AS (
      SELECT 'tr-' || CAST(user_id % 4 AS VARCHAR) AS transformation_id,
             CASE WHEN user_id % 4 = 3 THEN 'filtered'
                  WHEN event_id % 20 = 3 THEN 'missing'
                  WHEN event_id % 10 = 2 THEN 'different'
                  WHEN event_id % 10 = 1 THEN 'forgiven'
                  ELSE 'equal' END AS k
      FROM events
    ),
    agg AS (
      SELECT transformation_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN k = 'equal' THEN 1 ELSE 0 END) AS BIGINT) AS e,
             CAST(SUM(CASE WHEN k = 'forgiven' THEN 1 ELSE 0 END) AS BIGINT) AS f,
             CAST(SUM(CASE WHEN k = 'different' THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN k = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM ev GROUP BY transformation_id
    )
    SELECT transformation_id, n_events,
           CASE WHEN transformation_id = 'tr-3' THEN 0 ELSE e END AS n_equal_strict,
           CASE WHEN transformation_id = 'tr-3' THEN 0 ELSE f END AS n_datetime_forgiven,
           CASE WHEN transformation_id = 'tr-3' THEN 0 ELSE d END AS n_different,
           CASE WHEN transformation_id = 'tr-3' THEN 0 ELSE m END AS n_missing_mirror,
           CAST(0 AS BIGINT) AS n_missing_primary,
           CASE WHEN transformation_id = 'tr-3' OR d = 0 THEN ''
                ELSE 'revenue:' || CAST(d AS VARCHAR) END AS mismatch_fields,
           CASE WHEN transformation_id = 'tr-3' THEN 'mirror_filtered'
                WHEN d + m > 0 THEN 'different'
                WHEN f > 0 THEN 'equal_datetime_forgiven'
                ELSE 'equal' END AS verdict
    FROM agg ORDER BY transformation_id
    """,
    doc=(
        "UT mirroring sanity comparison: strict-then-lax (datetime-"
        "forgiven) response equality per (transformation, message), "
        "mirror-filtered short-circuit, missing-element length mismatch, "
        "per-field mismatch digest for differing rows. Ref: processor/"
        "processor.go:3225-3400, processor/types/types.go:277-312, "
        "processor/ut_mirroring_test.go"
    ),
    tags=("rudder", "processor"),
)
def q105(spark, sf):
    from rudder_server_spark.operators.ut_mirroring import (
        ut_mirror_compare,
        ut_mirror_stats,
    )

    e = load_table(spark, sf, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    tx = F.concat(F.lit("tr-"), (uid % 4).cast("string"))
    msg = F.concat(F.lit("m"), eid.cast("string"))
    rev = (F.lit(100) + eid % 50).cast("string")
    iso = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z"))
    iso_shift = F.concat(
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd'T'HH:mm:ss"
        ),
        F.lit("Z"),
    )
    status = F.when(F.col("event_type") == "error", 400).otherwise(200)
    err = F.when(F.col("event_type") == "error", "boom").otherwise("")

    def out_doc(rev_c, iso_c):
        return F.concat(
            F.lit('{"messageId":"'), msg, F.lit('","revenue":'), rev_c,
            F.lit(',"updatedAt":"'), iso_c, F.lit('"}'),
        )

    base = e.select(
        tx.alias("transformation_id"), msg.alias("message_id"),
        eid.alias("__eid"),
        status.alias("status_code"), err.alias("error"),
        out_doc(rev, iso).alias("output_json"),
        out_doc(
            F.when(eid % 10 == 2, (F.lit(101) + eid % 50).cast("string"))
            .otherwise(rev),
            F.when(eid % 10 == 1, iso_shift).otherwise(iso),
        ).alias("__mirror_json"),
    )
    primary = base.select(
        "transformation_id", "message_id", "output_json",
        "status_code", "error",
    )
    mirror = base.where(F.col("__eid") % 20 != 3).select(
        "transformation_id", "message_id",
        F.col("__mirror_json").alias("output_json"),
        "status_code", "error",
    )
    filtered = local_frame(spark,
        [("tr-3",)], "transformation_id string"
    )
    cmp = ut_mirror_compare(primary, mirror)
    return ut_mirror_stats(cmp, filtered=filtered).select(
        "transformation_id", "n_events", "n_equal_strict",
        "n_datetime_forgiven", "n_different", "n_missing_mirror",
        "n_missing_primary", "mismatch_fields", "verdict",
    ).orderBy("transformation_id")


# --------------------------------------------------------------------------
# Q106 activation-records (MAR) metering — enterprise/activationrecords/
# records_reporter.go GenerateReportsFromJobs: distinct activation
# fingerprints per (workspace, source, destination) over reverse-ETL jobs
# only, fail-closed on malformed input, first-metered-element origin with
# 256-rune truncation. Cohorts synthesized per event pin every skip branch:
# empty workspace, non-rETL / unknown source category (case-insensitive
# 'warehouse' match), empty destination, missing batch, non-array batch,
# per-element missing fingerprint / origin, and the long-origin truncation.
@register(
    "q106_activation_records",
    """
    WITH base AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 17 = 0 THEN ''
                  ELSE 'ws-' || CAST(user_id % 3 AS VARCHAR) END AS ws,
             'src-' || CAST(event_id % 4 AS VARCHAR) AS src,
             CASE WHEN event_id % 13 = 0 THEN ''
                  ELSE 'dst-' || CAST(event_id % 2 AS VARCHAR) END AS dst
      FROM events
    ),
    eligible AS (
      SELECT * FROM base
      WHERE ws <> '' AND event_id % 4 IN (0, 2)
        AND dst <> '' AND event_id % 19 <> 0 AND event_id % 23 <> 0
    ),
    elems AS (
      SELECT event_id, user_id, ws, src, dst, 0 AS idx,
             CASE WHEN user_id % 50 = 0 THEN repeat('o', 300)
                  ELSE 'rudder-sources' END AS origin,
             'fp-' || CAST(user_id % 211 AS VARCHAR) AS fp,
             event_id % 11 = 0 AS skipped
      FROM eligible
      UNION ALL
      SELECT event_id, user_id, ws, src, dst, 1, 'sdk',
             'fp-' || CAST((user_id + 1) % 211 AS VARCHAR),
             event_id % 7 = 0
      FROM eligible
    ),
    metered AS (SELECT * FROM elems WHERE NOT skipped),
    firsts AS (
      SELECT *, row_number() OVER (
               PARTITION BY ws, src, dst ORDER BY event_id, idx) AS rn
      FROM metered
    )
    SELECT m.ws AS workspace_id, m.src AS source_id, m.dst AS destination_id,
           max(CASE WHEN f.rn = 1 THEN substr(f.origin, 1, 256) END) AS origin,
           CAST(count(DISTINCT m.fp) AS BIGINT) AS n_fingerprints
    FROM metered m
    JOIN firsts f ON f.ws = m.ws AND f.src = m.src AND f.dst = m.dst
                 AND f.rn = 1
    GROUP BY m.ws, m.src, m.dst
    ORDER BY workspace_id, source_id, destination_id
    """,
    doc=(
        "Activation-records (MAR) metering: rETL-only classification via "
        "the source-category dimension (case-insensitive), fail-closed "
        "skips, per-(workspace, source, destination) distinct fingerprints "
        "with first-metered-element origin truncated to 256 runes. Ref: "
        "enterprise/activationrecords/records_reporter.go:135-247"
    ),
    tags=("rudder", "reporting"),
)
def q106(spark, sf):
    from rudder_server_spark.operators.sketches import activation_records

    e = load_table(spark, sf, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    ws = F.when(eid % 17 == 0, F.lit("")).otherwise(
        F.concat(F.lit("ws-"), (uid % 3).cast("string"))
    )
    dst_part = F.when(eid % 13 == 0, F.lit("")).otherwise(
        F.concat(F.lit("dst-"), (eid % 2).cast("string"))
    )
    params = F.concat(
        F.lit('{"source_id":"src-'), (eid % 4).cast("string"),
        F.lit('","destination_id":"'), dst_part, F.lit('"}'),
    )
    origin1 = F.when(uid % 50 == 0, F.lit("o" * 300)).otherwise(
        F.lit("rudder-sources")
    )
    elem1 = F.concat(
        F.lit('{"context":{"activation":{'),
        F.when(eid % 11 == 0, F.lit('"fingerprint":"fp-')).otherwise(
            F.concat(F.lit('"origin":"'), origin1, F.lit('","fingerprint":"fp-'))
        ),
        (uid % 211).cast("string"), F.lit('"}}}'),
    )
    elem2 = F.concat(
        F.lit('{"context":{"activation":{"origin":"sdk"'),
        F.when(
            eid % 7 != 0,
            F.concat(
                F.lit(',"fingerprint":"fp-'),
                ((uid + 1) % 211).cast("string"), F.lit('"'),
            ),
        ).otherwise(F.lit("")),
        F.lit("}}}"),
    )
    payload = F.when(eid % 19 == 0, F.lit("{}")).when(
        eid % 23 == 0, F.lit('{"batch":{"x":1}}')
    ).otherwise(
        F.concat(F.lit('{"batch":['), elem1, F.lit(","), elem2, F.lit("]}"))
    )
    jobs = e.select(
        eid.alias("job_id"), ws.alias("workspace_id"),
        params.alias("parameters"), payload.alias("event_payload"),
    )
    cats = local_frame(spark,
        [("src-0", "warehouse"), ("src-1", "event-stream"),
         ("src-2", "WAREHOUSE")],
        "source_id string, category string",
    )
    records, _skips = activation_records(jobs, cats)
    return records.select(
        "workspace_id", "source_id", "destination_id", "origin",
        "n_fingerprints",
    ).orderBy("workspace_id", "source_id", "destination_id")


# --------------------------------------------------------------------------
# Q107 error-detail reporting — enterprise/reporting/error_extractor.go +
# error_grouper.go: extract a human error message from each failed job's
# sample response (handler ladder over response shapes), normalize it
# (URL/IP/email/digit-token scrubbing — the regex chain verbatim),
# truncate to 200 chars, derive the error code (statTags
# errorCategory:errorType, else deprecation keyword detection skipped for
# warehouse destinations), and roll counts up per (source, destination,
# PU, event type) x (code, message). Ten response-shape cohorts pin every
# extractor branch the deterministic subset covers (see the module
# docstring for the Go-map-order caveat); the oracle replays the regex
# chain in DuckDB.
@register(
    "q107_error_details",
    """
    WITH base AS (
      SELECT event_id, user_id,
             'src-' || CAST(event_id % 2 AS VARCHAR) AS source_id,
             'dst-' || CAST(event_id % 2 AS VARCHAR) AS destination_id,
             CASE WHEN user_id % 2 = 0 THEN 'router' ELSE 'batch_router' END AS pu,
             'track' AS event_type,
             CASE WHEN event_id % 20 = 8 THEN 'POSTGRES' ELSE 'WEBHOOK' END AS dest_type,
             event_id % 10 AS cohort
      FROM events
    ),
    extracted AS (
      SELECT *,
        CASE cohort
          WHEN 0 THEN 'connection to https://api.example.com/v1 failed from 10.0.0.1 for user u'
                      || CAST(user_id AS VARCHAR) || '@example.com id abc123'
          WHEN 1 THEN 'rate limited by destination'
          WHEN 2 THEN 'first line failure'
          WHEN 3 THEN 'invalid api key provided'
          WHEN 4 THEN 'dupone.other'
          WHEN 5 THEN 'direct msg wins ' || repeat('word ', 60)
          WHEN 6 THEN 'dest detail text'
          WHEN 7 THEN 'eone.etwo'
          WHEN 8 THEN 'this api version is deprecated please upgrade'
          ELSE 'socket timeout'
        END AS raw_msg,
        CASE WHEN cohort = 9 THEN 'network:timeout'
             WHEN cohort = 8 AND dest_type <> 'POSTGRES' THEN 'deprecation'
             ELSE '' END AS error_code
      FROM base
    ),
    cleaned AS (
      SELECT source_id, destination_id, pu, event_type, error_code,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(raw_msg,
               '\\b((?:https?://|www\\.)\\S+)\\b', ' ', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', ' ', 'g'),
               '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b', ' ', 'g'),
               '\\b([a-zA-Z0-9-_]*\\d[a-zA-Z0-9-_]*)\\b', ' ', 'g'),
               '\\W+', ' ', 'g'),
               '\\s+', ' ', 'g')) AS msg
      FROM extracted
    ),
    truncated AS (
      SELECT source_id, destination_id, pu, event_type, error_code,
             CASE WHEN length(msg) > 200 THEN substr(msg, 1, 200) || '...'
                  ELSE msg END AS error_message
      FROM cleaned
    )
    SELECT source_id, destination_id, pu, event_type, error_code,
           error_message, CAST(count(*) AS BIGINT) AS count
    FROM truncated
    GROUP BY ALL
    ORDER BY source_id, destination_id, pu, event_type, error_code,
             error_message
    """,
    doc=(
        "Error-detail reporting: sample-response message extraction "
        "(reason/Error/response/error/warehouse-errors/msg/"
        "destinationResponse/errors ladder), URL/IP/email/id regex "
        "normalization, 200-char truncation, statTags-else-deprecation "
        "error codes (warehouse skip), connection-grain rollup. Ref: "
        "enterprise/reporting/error_extractor.go:29-444, error_grouper.go"
    ),
    tags=("rudder", "reporting"),
)
def q107(spark, sf):
    from rudder_server_spark.operators.error_details import (
        clean_error_message,
        error_code,
        extract_error_message,
        group_error_details,
        truncate_error_message,
    )

    e = load_table(spark, sf, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    cohort = eid % 10
    s = lambda c: c.cast("string")  # noqa: E731
    long_tail = "word " * 60
    sample = (
        F.when(
            cohort == 0,
            F.concat(
                F.lit("connection to https://api.example.com/v1 failed "
                      "from 10.0.0.1 for user u"),
                s(uid), F.lit("@example.com id abc123"),
            ),
        )
        .when(cohort == 1, F.lit('{"reason":"rate limited by destination"}'))
        .when(cohort == 2, F.lit('{"Error":"first line failure\\nsecond line"}'))
        .when(cohort == 3,
              F.lit('{"response":"{\\"message\\":\\"invalid api key provided\\"}"}'))
        .when(cohort == 4,
              F.lit('{"internal_processing_failed":{"errors":'
                    '["dupone","dupone","other"]}}'))
        .when(cohort == 5,
              F.lit('{"msg":"direct msg wins ' + long_tail + '"}'))
        .when(cohort == 6,
              F.lit('{"destinationResponse":{"detail":"dest detail text"}}'))
        .when(cohort == 7, F.lit('{"errors":["eone","etwo"]}'))
        .when(cohort == 8,
              F.lit("this api version is deprecated please upgrade"))
        .otherwise(F.lit('{"error":"socket timeout"}'))
    )
    jobs = e.select(
        F.concat(F.lit("src-"), s(eid % 2)).alias("source_id"),
        F.concat(F.lit("dst-"), s(eid % 2)).alias("destination_id"),
        F.when(uid % 2 == 0, "router").otherwise("batch_router").alias("pu"),
        F.lit("track").alias("event_type"),
        F.when(eid % 20 == 8, "POSTGRES").otherwise("WEBHOOK").alias("dest_type"),
        sample.alias("sample_response"),
        F.when(cohort == 9, "network").alias("stat_category"),
        F.when(cohort == 9, "timeout").alias("stat_type"),
    )
    # two-stage select: error_code's ~60 deprecation keyword probes each
    # reference the message — materializing the extract/clean/truncate
    # chain as a COLUMN first keeps the probes on an attribute reference
    # (CollapseProject won't inline a non-cheap expr into 60 consumers;
    # inlining it OOM'd analysis under the 1 GB hostile driver)
    staged = jobs.select(
        "source_id", "destination_id", "pu", "event_type",
        "stat_category", "stat_type", "dest_type",
        truncate_error_message(
            clean_error_message(extract_error_message(F.col("sample_response")))
        ).alias("error_message"),
    )
    shaped = staged.select(
        "source_id", "destination_id", "pu", "event_type", "error_message",
        error_code(
            F.col("error_message"), F.col("stat_category"),
            F.col("stat_type"), F.col("dest_type"),
        ).alias("error_code"),
    )
    return group_error_details(shaped).orderBy(
        "source_id", "destination_id", "pu", "event_type", "error_code",
        "error_message",
    )


# --------------------------------------------------------------------------
# Q108 jobsdb compaction replay — the copy-unfinished-forward + drop-old
# cycle (jobsdb/jobsdb_compaction.go): per-dataset eligibility
# (checkIfCompactDS:862-967 — recordsLeft, needsPair below the
# jobMinRowsLeftCompactionThreshold x MaxDSSize line), the selection scan
# with pairing/caps (getCompactionList:308-407), the pending-jobs copy
# (copyJobsInTx:518-534) + latest-status copy (copyJobStatusesInTx:
# 553-560) into one destination, and the pure async-drop path when every
# selected job is terminal (doCompaction:626). The oracle replays the
# sequential selection fold as a recursive CTE (the q101 state-machine
# pattern); the relational copy/drop is plain set algebra both sides.
@register(
    "q108_compaction_replay",
    """
WITH RECURSIVE jobs AS (
      SELECT event_id AS job_id, event_id % 8 AS ds,
             (event_id // 8) % 20 AS r
      FROM events
    ),
    t AS (
      SELECT *,
             CASE ds WHEN 0 THEN 20 WHEN 1 THEN 19 WHEN 2 THEN 18
                     WHEN 3 THEN 10 WHEN 4 THEN 2 WHEN 5 THEN 2
                     WHEN 6 THEN 2 ELSE 0 END AS tt
      FROM jobs
    ),
    statuses AS (
      -- early retry rows, then a terminal row (latest wins); r == tt is a
      -- lone non-terminal 'failed'; r > tt has no status at all
      SELECT job_id, ds, job_id * 10 AS status_id, 'failed' AS job_state
      FROM t WHERE r < tt AND r % 3 = 0
      UNION ALL
      SELECT job_id, ds, job_id * 10 + 1,
             CASE WHEN r % 2 = 0 THEN 'succeeded' ELSE 'aborted' END
      FROM t WHERE r < tt
      UNION ALL
      SELECT job_id, ds, job_id * 10, 'failed' FROM t WHERE r = tt
    ),
    last_status AS (
      SELECT job_id, ds, arg_max(job_state, status_id) AS job_state
      FROM statuses GROUP BY job_id, ds
    ),
    ds_stats AS (
      SELECT j.ds,
             row_number() OVER (ORDER BY j.ds) - 1 AS i,
             count(*) AS total,
             sum(CASE WHEN ls.job_state IN ('succeeded','aborted','migrated','filtered')
                      THEN 1 ELSE 0 END) AS term
      FROM (SELECT DISTINCT job_id, ds FROM jobs) j
      LEFT JOIN last_status ls USING (job_id, ds)
      GROUP BY j.ds
    ),
    ds_elig AS (
      SELECT ds, i, total - term AS lft,
             (total - term) > 0 AND (total - term) < 0.25 * 4000 AS needs_pair,
             (total - term) = 0 OR ((total - term) > 0 AND (total - term) < 0.25 * 4000) AS compact,
             (SELECT count(*) FROM ds_stats) AS n
      FROM ds_stats
    ),
    -- getCompactionList fold (jobsdb_compaction.go:308-407): last dataset
    -- exempt, max_compact_once=4, pending cap 4000, waiting-pair logic,
    -- stop at first ineligible once any source chosen
    fold AS (
      SELECT -1 AS i, 0 AS live, CAST(0 AS BIGINT) AS pending,
             CAST(NULL AS INTEGER) AS w_ds, CAST(NULL AS BIGINT) AS w_left,
             FALSE AS stopped, 0 AS probes,
             CAST(NULL AS INTEGER) AS sel_a, CAST(NULL AS INTEGER) AS sel_b
      UNION ALL
      SELECT s.i,
             CASE WHEN g.gate THEN f.live
                  WHEN s.compact AND NOT s.needs_pair THEN f.live + 1
                  WHEN s.compact AND f.w_ds IS NOT NULL AND f.w_left + s.lft <= 4000 THEN f.live + 2
                  WHEN s.compact AND f.w_ds IS NULL AND f.pending > 0 AND f.pending + s.lft <= 4000 THEN f.live + 1
                  ELSE f.live END,
             CASE WHEN g.gate THEN f.pending
                  WHEN s.compact AND NOT s.needs_pair THEN f.pending + s.lft
                  WHEN s.compact AND f.w_ds IS NOT NULL AND f.w_left + s.lft <= 4000 THEN f.pending + f.w_left + s.lft
                  WHEN s.compact AND f.w_ds IS NULL AND f.pending > 0 AND f.pending + s.lft <= 4000 THEN f.pending + s.lft
                  ELSE f.pending END,
             CASE WHEN g.gate THEN f.w_ds
                  WHEN NOT s.compact THEN NULL
                  WHEN s.compact AND NOT s.needs_pair THEN f.w_ds
                  WHEN f.w_ds IS NOT NULL THEN NULL
                  WHEN f.pending > 0 THEN NULL
                  ELSE s.ds END,
             CASE WHEN g.gate THEN f.w_left
                  WHEN NOT s.compact THEN NULL
                  WHEN s.compact AND NOT s.needs_pair THEN f.w_left
                  WHEN f.w_ds IS NOT NULL THEN NULL
                  WHEN f.pending > 0 THEN NULL
                  ELSE s.lft END,
             g.gate
             OR (NOT s.compact AND (f.live > 0 OR f.probes > 10))
             OR (s.compact AND s.needs_pair AND f.w_ds IS NULL
                 AND f.pending > 0 AND f.pending + s.lft > 4000),
             CASE WHEN g.gate THEN f.probes ELSE f.probes + 1 END,
             CASE WHEN g.gate THEN NULL
                  WHEN s.compact AND NOT s.needs_pair THEN s.ds
                  WHEN s.compact AND f.w_ds IS NOT NULL AND f.w_left + s.lft <= 4000 THEN f.w_ds
                  WHEN s.compact AND f.w_ds IS NULL AND f.pending > 0 AND f.pending + s.lft <= 4000 THEN s.ds
                  ELSE NULL END,
             CASE WHEN g.gate THEN NULL
                  WHEN s.compact AND f.w_ds IS NOT NULL AND f.w_left + s.lft <= 4000 THEN s.ds
                  ELSE NULL END
      FROM fold f
      JOIN ds_elig s ON s.i = f.i + 1 AND s.i < s.n - 1
      CROSS JOIN LATERAL (SELECT (f.stopped OR f.live >= 4 OR f.pending >= 4000) AS gate) g
    ),
    selected AS (
      SELECT sel_a AS ds FROM fold WHERE sel_a IS NOT NULL
      UNION
      SELECT sel_b FROM fold WHERE sel_b IS NOT NULL
    ),
    plan AS (
      SELECT (SELECT count(*) FROM selected) AS n_sel,
             (SELECT CAST(min(ds) AS VARCHAR) || '_c' FROM selected) AS dest,
             (SELECT coalesce(sum(e.lft), 0) FROM ds_elig e
              WHERE e.ds IN (SELECT ds FROM selected)) AS pending_total
    ),
    jobs_out AS (
      SELECT j.job_id, CAST(j.ds AS VARCHAR) AS ds_label
      FROM jobs j WHERE j.ds NOT IN (SELECT ds FROM selected)
      UNION ALL
      SELECT j.job_id, p.dest
      FROM jobs j
      LEFT JOIN last_status ls ON ls.job_id = j.job_id
      CROSS JOIN plan p
      WHERE j.ds IN (SELECT ds FROM selected)
        AND p.pending_total > 0
        AND (ls.job_state IS NULL
             OR ls.job_state NOT IN ('succeeded','aborted','migrated','filtered'))
    ),
    statuses_out AS (
      SELECT s.job_id, s.status_id, s.job_state, CAST(s.ds AS VARCHAR) AS ds_label
      FROM statuses s WHERE s.ds NOT IN (SELECT ds FROM selected)
      UNION ALL
      SELECT ls2.job_id, ls2.status_id, ls2.job_state, p.dest
      FROM (
        SELECT job_id, arg_max(status_id, status_id) AS status_id,
               arg_max(job_state, status_id) AS job_state
        FROM statuses WHERE ds IN (SELECT ds FROM selected)
        GROUP BY job_id
      ) ls2
      CROSS JOIN plan p
      WHERE p.pending_total > 0
        AND ls2.job_id IN (SELECT job_id FROM jobs_out WHERE ds_label = p.dest)
    ),
    lastst_out AS (
      SELECT ds_label, job_id, arg_max(job_state, status_id) AS job_state
      FROM statuses_out GROUP BY ds_label, job_id
    )
    SELECT j.ds_label,
           CAST(count(*) AS BIGINT) AS n_jobs,
           CAST(sum(CASE WHEN ls.job_state IS NULL
                          OR ls.job_state NOT IN ('succeeded','aborted','migrated','filtered')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
           CAST(coalesce((SELECT count(*) FROM statuses_out so
                          WHERE so.ds_label = j.ds_label), 0) AS BIGINT) AS n_statuses,
           CAST(min(j.job_id) AS BIGINT) AS min_job,
           CAST(max(j.job_id) AS BIGINT) AS max_job
    FROM jobs_out j
    LEFT JOIN lastst_out ls ON ls.ds_label = j.ds_label AND ls.job_id = j.job_id
    GROUP BY j.ds_label
    ORDER BY j.ds_label
    """,
    doc=(
        "jobsdb dataset compaction cycle: eligibility scan with "
        "waiting-pair logic and caps, unfinished-jobs + latest-status "
        "copy-forward into one destination dataset, source drop "
        "(async-drop when nothing is pending). Ref: jobsdb/"
        "jobsdb_compaction.go:308-407,518-560,598-700,862-967"
    ),
    tags=("rudder", "jobsdb"),
)
def q108(spark, sf):
    from rudder_server_spark.sources.jobsdb import compaction_replay, latest_status

    jid = F.col("event_id")
    base = load_table(spark, sf, "events").select(
        jid.alias("job_id"),
        (jid % 8).cast("int").alias("ds_index"),
        (F.expr("event_id div 8") % 20).alias("_r"),
    )
    tt = (
        F.when(F.col("ds_index") == 0, 20)
        .when(F.col("ds_index") == 1, 19)
        .when(F.col("ds_index") == 2, 18)
        .when(F.col("ds_index") == 3, 10)
        .when(F.col("ds_index").isin(4, 5, 6), 2)
        .otherwise(0)
    )
    t = base.select("*", tt.alias("_tt"))
    r, tcol = F.col("_r"), F.col("_tt")
    # early retry rows, then a terminal row (latest wins); r == tt is a
    # lone non-terminal failure; r > tt never got a status
    statuses = (
        t.where((r < tcol) & (r % 3 == 0)).select(
            "job_id", "ds_index",
            (F.col("job_id") * 10).alias("status_id"),
            F.lit("failed").alias("job_state"),
        )
        .unionByName(
            t.where(r < tcol).select(
                "job_id", "ds_index",
                (F.col("job_id") * 10 + 1).alias("status_id"),
                F.when(r % 2 == 0, "succeeded").otherwise("aborted").alias("job_state"),
            )
        )
        .unionByName(
            t.where(r == tcol).select(
                "job_id", "ds_index",
                (F.col("job_id") * 10).alias("status_id"),
                F.lit("failed").alias("job_state"),
            )
        )
    )
    jobs = t.select("job_id", "ds_index")
    j_out, s_out, _report = compaction_replay(
        jobs, statuses,
        max_ds_size=4000, pair_threshold=0.25,
        max_compact_once=4, max_ds_probe=10,
    )
    lastst = latest_status(
        s_out.select("ds_label", "job_id", "status_id", "job_state"),
        job_id="job_id", seq="status_id",
    )
    terminal = F.col("job_state").isin("succeeded", "aborted", "migrated", "filtered")
    n_statuses = s_out.groupBy("ds_label").agg(F.count("*").alias("n_statuses"))
    return (
        j_out.select("ds_label", "job_id")
        .join(lastst.select("job_id", "job_state"), ["job_id"], "left")
        .groupBy("ds_label")
        .agg(
            F.count("*").alias("n_jobs"),
            F.sum(
                F.when(F.col("job_state").isNull() | ~terminal, 1).otherwise(0)
            ).alias("n_pending"),
            F.min("job_id").alias("min_job"),
            F.max("job_id").alias("max_job"),
        )
        .join(n_statuses, ["ds_label"], "left")
        .select(
            "ds_label", "n_jobs", "n_pending",
            F.coalesce("n_statuses", F.lit(0)).alias("n_statuses"),
            "min_job", "max_job",
        )
        .orderBy("ds_label")
    )


# --------------------------------------------------------------------------
# Q109 warehouse/api syncs + retry rollup — the UI status listing and the
# retry endpoints over wh_uploads (warehouse/api/grpc.go:481-601 +
# warehouse/internal/repo/upload.go:735-900,971-1036): per-upload attempt
# totals summed across the error document's dynamic per-state keys (gjson
# ForEach, upload.go:841-844), nextRetryTime surfaced only for in-flight
# uploads (846-850), finished-vs-inflight duration (851-859), and the
# RetryCount eligibility window (retryQueryArgs: aborted within the
# trailing IntervalInHours of created_at).
@register(
    "q109_wh_uploads_api",
    """\n    WITH uploads AS (
      SELECT event_id AS upload_id,
             'dst-' || CAST(event_id % 3 AS VARCHAR) AS destination_id,
             CASE event_id % 7
               WHEN 0 THEN 'exported_data' WHEN 1 THEN 'exported_data'
               WHEN 2 THEN 'aborted' WHEN 3 THEN 'exporting_data_failed'
               WHEN 4 THEN 'waiting' WHEN 5 THEN 'exporting_data'
               ELSE 'generating_load_files_failed' END AS status,
             CASE WHEN event_id % 7 IN (0, 1) THEN '{}'
                  ELSE '{"exporting_data_failed":{"attempt":'
                       || CAST(event_id % 4 + 1 AS VARCHAR) || '}'
                       || CASE WHEN event_id % 2 = 0
                               THEN ',"generating_load_files_failed":{"attempt":1}'
                               ELSE '' END || '}' END AS error,
             CASE WHEN event_id % 3 <> 0
                  THEN '{"nextRetryTime":"'
                       || strftime(ts + INTERVAL 2 HOUR, '%Y-%m-%dT%H:%M:%SZ') || '"}'
                  ELSE '{}' END AS metadata,
             ts AS created_at,
             CASE WHEN event_id % 6 <> 0 THEN ts + INTERVAL 30 MINUTE END AS last_exec_at,
             ts + INTERVAL 1 HOUR AS updated_at
      FROM events WHERE event_id % 5 = 0
    ),
    shaped AS (
      SELECT destination_id, status,
             -- gjson ForEach parity: sum attempt over every error key
             coalesce(list_sum(list_transform(json_keys(error),
               k -> coalesce(CAST(json_extract(error, '$.' || k || '.attempt') AS BIGINT), 0))), 0) AS attempts,
             CASE WHEN status NOT IN ('exported_data', 'aborted')
                   AND try_strptime(json_extract_string(metadata, '$.nextRetryTime'),
                                    '%Y-%m-%dT%H:%M:%SZ') IS NOT NULL
                  THEN 1 ELSE 0 END AS nr,
             CASE WHEN status = 'aborted'
                   AND created_at > TIMESTAMP '2024-01-16 00:00:00' - INTERVAL 240 HOUR
                  THEN 1 ELSE 0 END AS re,
             -- floor each epoch before subtracting (Spark unix_timestamp
             -- parity; Go's time.Sub()/time.Second also truncates)
             CASE WHEN last_exec_at IS NOT NULL THEN
               CASE WHEN status IN ('exported_data', 'aborted')
                    THEN floor(epoch(updated_at)) - floor(epoch(last_exec_at))
                    ELSE floor(epoch(TIMESTAMP '2024-01-16 00:00:00'))
                         - floor(epoch(last_exec_at)) END
             END AS dur
      FROM uploads
    )
    SELECT destination_id, status,
           CAST(count(*) AS BIGINT) AS n_uploads,
           CAST(sum(attempts) AS BIGINT) AS total_attempts,
           CAST(sum(nr) AS BIGINT) AS n_next_retry,
           CAST(sum(re) AS BIGINT) AS n_retry_eligible,
           CAST(max(dur) AS BIGINT) AS max_duration_sec
    FROM shaped GROUP BY destination_id, status
    ORDER BY destination_id, status
    """,
    doc=(
        "Warehouse API rollup: per (destination, status) upload counts, "
        "error-document attempt totals, usable nextRetryTime coverage, "
        "retry-eligible counts and max sync duration. Ref: warehouse/api/"
        "grpc.go:481-601, warehouse/internal/repo/upload.go:735-1036"
    ),
    tags=("rudder", "warehouse"),
)
def q109(spark, sf):
    from rudder_server_spark.operators.wh_api import syncs_rollup

    eid = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    status = (
        F.when(eid % 7 <= 1, "exported_data")
        .when(eid % 7 == 2, "aborted")
        .when(eid % 7 == 3, "exporting_data_failed")
        .when(eid % 7 == 4, "waiting")
        .when(eid % 7 == 5, "exporting_data")
        .otherwise("generating_load_files_failed")
    )
    error = F.when(eid % 7 <= 1, F.lit("{}")).otherwise(
        F.concat(
            F.lit('{"exporting_data_failed":{"attempt":'),
            s(eid % 4 + 1), F.lit("}"),
            F.when(
                eid % 2 == 0,
                F.lit(',"generating_load_files_failed":{"attempt":1}'),
            ).otherwise(F.lit("")),
            F.lit("}"),
        )
    )
    metadata = F.when(
        eid % 3 != 0,
        F.concat(
            F.lit('{"nextRetryTime":"'),
            F.date_format(
                F.col("ts") + F.expr("INTERVAL 2 HOUR"),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ),
            F.lit('"}'),
        ),
    ).otherwise(F.lit("{}"))
    uploads = (
        load_table(spark, sf, "events")
        .where(eid % 5 == 0)
        .select(
            eid.alias("upload_id"),
            F.concat(F.lit("dst-"), s(eid % 3)).alias("destination_id"),
            status.alias("status"),
            error.alias("error"),
            metadata.alias("metadata"),
            F.col("ts").alias("created_at"),
            F.when(
                eid % 6 != 0, F.col("ts") + F.expr("INTERVAL 30 MINUTE")
            ).alias("last_exec_at"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("updated_at"),
        )
    )
    now = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return syncs_rollup(uploads, now, retry_interval_hours=240).orderBy(
        "destination_id", "status"
    )
