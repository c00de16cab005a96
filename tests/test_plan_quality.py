"""Physical-plan regression tests: the properties that make these plans
hold at 100 TB, pinned via `.explain` so a refactor can't silently lose
them (SURVEY §4 — pushdown/pruning/broadcast are the scale levers).
"""

import os

import pyspark.sql.functions as F

from rudder_server_spark.plans.registry import load_all
from rudder_server_spark.sources.fixtures import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

REG = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q20_broadcasts_customer_side(spark):
    """TPC-H Q3: the filtered customer side broadcasts at test SF via
    AQE's runtime size check (no hint — customer grows with SF, so a
    forced build side would OOM at extreme scale)."""
    df = REG["q20_tpch_q3"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_parquet(spark):
    """Predicate pushdown: event_type filter lands in PushedFilters, so
    row-group stats prune the payload decode (the q8/q9 scale win)."""
    e = load_table(spark, SF_DIR, "events").where(F.col("event_type") == "click")
    plan = _plan(e.select("event_id"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_column_pruning_reaches_parquet(spark):
    """A 2-column projection must scan 2 columns, not 6 (ReadSchema)."""
    e = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    plan = _plan(e)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "event_id" in read and "user_id" in read
    assert "props" not in read and "event_type" not in read


def test_q2_single_shuffle_window(spark):
    """Latest-status: exactly one exchange (the window partition-by) —
    a second exchange would mean the sort isn't reusing the partitioning."""
    df = REG["q2_latest_status"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    n_exchanges = plan.count("Exchange ")
    # one hashpartitioning for the window + one rangepartitioning for the
    # final ORDER BY — anything more is a regression
    assert n_exchanges <= 2, plan


def test_geo_range_join_broadcasts(spark):
    """P9: the IP-range dimension must broadcast (nested-loop on the
    range predicate) — never shuffle the event side."""
    df = REG["q19_geo_enrich"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_suppression_broadcast_anti_join(spark):
    df = REG["q5_suppression"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q21_partial_aggregation(spark):
    """Rollup: map-side partial agg before the exchange (the shuffle must
    carry one row per group per partition, not raw rows)."""
    df = REG["q21_rollup"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    # partial (map-side) agg + final agg: two HashAggregates, the upstream
    # one running partial_sum before any exchange moves data
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_flatten_single_json_parse(spark):
    """Q1: the projection must contain exactly ONE from_json of the payload
    (the single-parse design) — per-column re-parsing is the 100 TB killer."""
    from rudder_server_spark.operators.flatten import flatten_events
    from rudder_server_spark.sources.rudder_events import rudder_events_path

    df = spark.read.parquet(rudder_events_path(SF_DIR))
    flat = flatten_events(df, promote=set())
    opt = _optimized(flat)
    assert opt.count("from_json") == 1, opt


def test_whole_stage_codegen_on_hot_path(spark):
    """The dedup/shingle hot path stays inside WholeStageCodegen (no
    interpreted higher-order functions)."""
    from rudder_server_spark.operators.dedup import shingle_table

    d = load_table(spark, SF_DIR, "documents")
    plan = _plan(shingle_table(d))
    # '*(n)' prefixes mark WholeStageCodegen stages in the compact plan
    assert "*(1)" in plan
    # and the shingle expression itself is regex-based, not a higher-order
    # transform() (those evaluate interpreted, outside codegen)
    assert "regexp_extract_all" in plan and "transform(" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed tables join with ZERO exchanges — the stored-data
    answer to the reference's murmur3 user partitioning (jobsdb.go:590):
    at 100 TB every repeated user-keyed join (identity, suppression,
    latest-traits) skips its shuffle entirely."""
    from rudder_server_spark.sources.bucketed import bucketed_join, write_bucketed

    ev = load_table(spark, SF_DIR, "events")
    try:
        write_bucketed(ev.select("event_id", "user_id", "value"), "b_events", ["user_id"], 8)
        write_bucketed(ev.groupBy("user_id").count(), "b_users", ["user_id"], 8)
        j = bucketed_join(spark, "b_events", "b_users", ["user_id"])
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == ev.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_users")


def test_q30_extract_filter_pushdown_and_pruned_parse(spark):
    """The extract fan-out must push event_type to the parquet scan (the
    fixture is clustered by event_type → row-group pruning) and parse only
    its own sub-schema, not the full corpus schema."""
    df = REG["q30_extract_table"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "EqualTo(event_type,extract)" in plan
    # per-table sub-schema pruning: the parse must NOT decode the track
    # userProperties subtree (extract tables never select it)
    assert "userProperties" not in plan


def test_kafka_shape_stays_codegen(spark):
    """S9 shaping must be pure column expressions — a Python UDF here would
    put every delivered event through the interpreter at 100 TB."""
    from rudder_server_spark.sources.kafka import kafka_shape, pubsub_shape

    df = spark.createDataFrame([("{}",)], "payload string")
    for shaped in (kafka_shape(df, {"topic": "t"}), pubsub_shape(df, {})):
        plan = _plan(shaped)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q31_single_scan_partial_agg(spark):
    """A9 schema versions: one scan, hash partial agg (map-side combine)
    before the exchange — the shuffle carries one row per schema version
    per partition, not per event."""
    df = REG["q31_event_schemas"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial" in plan.lower()


def test_t16_pipeline_filter_before_shuffle(spark):
    """t16: the language filter is a narrow map BEFORE the dedup shuffle —
    filtering after would shuffle the full corpus."""
    df = REG["t16_training_prep"].spark_fn(spark, SF_DIR)
    opt = _optimized(df)
    # the lang-id filter must appear below (after, in tree order) the first
    # Aggregate in the optimized plan text: Aggregates print above their
    # children, so filter text must come later in the string
    agg_pos = opt.find("Aggregate")
    assert agg_pos != -1
    filt_pos = opt.find("Filter")
    assert filt_pos > agg_pos  # filter sits under the aggregate, not above


def test_t19_contamination_broadcasts_eval_side(spark):
    """Contamination check: the eval/benchmark n-gram side must broadcast —
    at 100 TB the train side never shuffles on the gram key, so hot grams
    cannot skew the join."""
    df = REG["t19_contamination"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_t18_repetition_partial_agg(spark):
    """Repetition features: both aggs are doc-keyed hash aggregates with a
    map-side partial phase (no corpus-wide key), so the op stays linear and
    shuffle-light at scale."""
    df = REG["t18_repetition_stats"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "partial_" in plan  # map-side combine present
    # narrow map + aggs only: no join anywhere in the per-doc feature path
    assert "Join" not in plan


def test_t20_pii_scrub_single_scan(spark):
    """PII scrub: one parquet scan, codegen'd regex projection, map-side
    partial agg — a pure narrow pipeline until the tiny per-type rollup."""
    df = REG["t20_pii_scrub"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1
    assert "partial_" in plan


def test_t24_incremental_dedup_fingerprint_anti_join(spark):
    """Incremental dedup: the corpus side must reduce to its fingerprint
    column before the anti-join (ReadSchema stays narrow — the corpus TEXT
    is never shuffled), and the join is a hash anti-join on the key, never
    a nested loop."""
    df = REG["t24_incremental_dedup"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_t25_shard_assign_single_exchange(spark):
    """Shard packing: one hash exchange on the shard key feeds both the
    per-shard sort (window) and the final agg — the same shuffle a shard
    writer needs anyway; no range exchange, no extra repartition."""
    df = REG["t25_shard_pack"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan.replace(
        "Exchange rangepartitioning(shard", "SORT_OUTPUT("
    )  # only the output ORDER BY may range-partition


def test_t26_dup_rate_two_phase_distinct(spark):
    """Dup-rate monitoring: the distinct agg must run as the two-phase
    (source, fingerprint) expand — partial map-side aggs, single scan, no
    join; the corpus never collects."""
    df = REG["t26_dup_rate_by_source"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1
    assert "partial_" in plan and "Join" not in plan


def test_q33_merge_load_shuffles_on_pk_only(spark):
    """Merge-load: the staging dedup and the delete are one window over
    main ∪ staging keyed on the pk — no nested loop, no cartesian; at 100 TB
    the merge is one shuffle stage on user_id, and the plan has no more
    hash exchanges than the anti-join form had (3: main's dedup, and the
    staging dedup once for the anti-join's keys and once for its rows)."""
    df = REG["q33_warehouse_merge"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    lines = plan.splitlines()
    merge = next(i for i, ln in enumerate(lines) if "Window [" in ln)
    below = next(ln for ln in lines[merge + 1:] if "Exchange " in ln)
    assert "Exchange hashpartitioning(user_id" in below, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q35_retention_filter_pushes_down(spark):
    """Retention: the jobMaxAge cut must be a literal predicate in
    PushedFilters (row-group pruning skips expired data at the scan) — a
    joined high-water-mark column would filter after reading everything."""
    df = REG["q35_retention"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    read = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert read and "GreaterThanOrEqual(ts" in read[0]


def test_t29_logfreq_no_cartesian_blowup(spark):
    """Perplexity-proxy scoring: the only nested-loop join allowed is the
    broadcast of the ONE-ROW corpus total; the token->vocab join must be a
    hash/sort join on the token key, and partial aggs must combine
    map-side."""
    df = REG["t29_logfreq_score"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_t30_quota_single_exchange(spark):
    """Per-source quota: the rank window and the final rollup share ONE hash
    exchange on the group key — the sort reuses the partitioning."""
    df = REG["t30_source_quota"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_q37_throttle_single_exchange(spark):
    """Throttled pickup: the row_number window and the per-destination
    rollup must not multiply exchanges — the (destination, window) window
    partitioning subsumes the destination-only aggregate, so one hash
    exchange covers both at 100 TB."""
    df = REG["q37_throttled_pickup"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # window exchange + (possibly) agg re-exchange on the coarser key;
    # anything beyond 2 means a lost partitioning
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q38_backoff_filter_pushes_down(spark):
    """Retry backoff: the failed-subset predicate must reach PushedFilters
    (only the error partition is read), and the backoff/abort math must be
    a codegen'd narrow projection — no extra shuffle beyond the tiny
    grouped rollup."""
    df = REG["q38_retry_backoff"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    read = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert read and "EqualTo(event_type,error)" in read[0]
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q39_profile_single_scan(spark):
    """Column profile: ONE scan of the table — the stack unpivot happens
    inside the scan's projection (codegen generator), not as six per-column
    scans the way the oracle computes it. The distinct agg is the only
    shuffle pair."""
    df = REG["q39_column_profile"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q40_tpch_q5_dims_broadcast(spark):
    """TPC-H Q5: at test SF every dimension lands on a broadcast build
    side (region/nation by HINT — bounded; supplier/customer by AQE's
    runtime size check, since they grow with SF and a forced build side
    would OOM at extreme scale); the only join allowed to shuffle is
    lineitem ⋈ orders, and never a nested-loop/cartesian."""
    df = REG["q40_tpch_q5"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # lineitem⋈orders may be broadcast at tiny SF or sort-merge at scale;
    # either way there is at most the one shuffle join
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q41_funnel_steps_user_keyed(spark):
    """Funnel: every step joins on user_id (co-partitioned with the step
    aggregates — no hint-broadcast of an unbounded per-user frame; AQE
    broadcasts at runtime when a frame is small). Never a cartesian."""
    df = REG["q41_funnel"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan


def test_q42_cohort_user_keyed_join(spark):
    """Cohort retention: the per-user cohort map joins back on user_id
    (unbounded at scale, so no broadcast HINT — AQE decides at runtime);
    never a cartesian."""
    df = REG["q42_cohort_retention"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_t33_vocab_broadcast_join(spark):
    """Vocab coverage: the bounded vocabulary joins map-side (broadcast) —
    a shuffled token join would re-exchange the full token explode."""
    df = REG["t33_vocab_coverage"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q43_part_dim_broadcasts(spark):
    """TPC-H Q14: part joins by AQE's runtime broadcast at test SF (no
    hint — part grows with SF); lineitem is the only big side and the
    month-bucket agg is the only shuffle."""
    df = REG["q43_tpch_q14"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_q45_trackingplan_single_scan_single_parse(spark):
    """Tracking-plan validation: ONE scan, ONE try_parse_json shared by
    every rule (the compile-to-columns point — no per-rule re-parse, no
    row-at-a-time interpreter), one bounded agg exchange."""
    df = REG["q45_trackingplan"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    # codegen'd projection: no BatchEvalPython / mapInPandas anywhere
    assert "Python" not in plan


def test_q48_fuzzy_blocking_no_cartesian(spark):
    """Fuzzy identity pairs: the self-join must key on the block columns
    (hash join), never degenerate to a cartesian/nested-loop — blocking IS
    the scale guarantee."""
    df = REG["q48_fuzzy_identity"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q50_session_funnel_single_exchange(spark):
    """Sessionize + ordered funnel: the (user_id) window partitioning is
    shared by the gap marks, the session numbering, all three step
    windows AND the per-session rollup — exactly ONE hash exchange for
    the whole pipeline."""
    df = REG["q50_session_funnel"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_q51_scd2_single_exchange(spark):
    """SCD2 build: dedup, change compression, and interval assignment all
    share the ONE (user_id) partitioning — the lag-based dedup rewrite
    exists precisely to avoid a second (user, ts)-keyed exchange."""
    df = REG["q51_scd2_traits"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_q39_profile_no_expand(spark):
    """The exact column profile must plan as the manual two-phase distinct
    (partial count per (col_name, val) → fold) — Spark's built-in mixed
    DISTINCT plan would insert an Expand that doubles every unpivoted row
    before the shuffle."""
    df = REG["q39_column_profile"].spark_fn(spark, SF_DIR)
    assert "Expand" not in _plan(df)


def test_q17_counts_pre_reduce_before_expand(spark):
    """fanout_table_counts: the grouping-sets Expand must sit ABOVE the
    corpus-reducing pre-aggregate on (event_type, event_name, _uid, _rid)
    — i.e. it multiplies the bounded group set, not the corpus."""
    from rudder_server_spark.operators.event_tables import fanout_table_counts
    from rudder_server_spark.sources.rudder_events import rudder_events_path

    env = spark.read.parquet(rudder_events_path(SF_DIR))
    plan = _plan(fanout_table_counts(env))
    lines = plan.splitlines()
    # the pre-reduction partial aggregate on the 4-column grain (the node
    # that actually touches corpus rows)
    pre = [
        i
        for i, ln in enumerate(lines)
        if "HashAggregate" in ln and "_uid" in ln and "partial_count(1)" in ln
    ]
    assert pre, plan
    # every Expand that references the reduced grain prints ABOVE (parent
    # of) that partial aggregate — i.e. Expand consumes the reduced frame
    expands = [i for i, ln in enumerate(lines) if "Expand [[" in ln and "_uid" in ln]
    assert expands and max(expands) < min(pre), plan


def test_q53_sweep_no_expand(spark):
    """Regulation sweep: purged-user distinct aggregates the pre-reduced
    (event_type, suppressed-user) frame — never an Expand over the corpus."""
    df = REG["q53_regulation_sweep"].spark_fn(spark, SF_DIR)
    assert "Expand" not in _plan(df)


def test_t37_sample_broadcasts_counts_and_filters_before_rank(spark):
    """Stratified sample: per-stratum counts broadcast (never shuffle the
    corpus for a bounded dim), and the ticket-cutoff filter sits BELOW the
    row_number window so the per-stratum sort only ranks survivors."""
    df = REG["t37_stratified_sample"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # tree prints parents above children: the Window must appear before
    # (above) the cutoff filter's conv(...) ticket expression
    assert "Window" in plan and "conv(" in plan
    assert plan.index("Window") < plan.index("conv(")


def test_t38_rebalance_no_cartesian(spark):
    """Mix rebalancing: the factor table joins back via broadcast; the
    1-row mean joins via BroadcastNestedLoop — never a CartesianProduct."""
    df = REG["t38_rebalance_mix"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q60_exists_is_semi_join(spark):
    """TPC-H Q4: EXISTS must plan as a LEFT SEMI join (no aggregate or
    distinct materialization of the lineitem side) with the date filter
    pushed to the orders scan."""
    df = REG["q60_tpch_q4"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "PushedFilters" in plan


def test_q63_not_exists_is_anti_join(spark):
    """TPC-H Q22: NOT EXISTS plans as LEFT ANTI; the scalar avg subquery
    broadcasts (BroadcastNestedLoopJoin or BroadcastExchange on a 1-row
    frame) — never a shuffle of the customer side for the scalar."""
    df = REG["q63_tpch_q22"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan, plan


def test_q62_top100_is_take_ordered(spark):
    """TPC-H Q18: the ORDER BY + LIMIT 100 must plan as
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    df = REG["q62_tpch_q18"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "LeftSemi" in plan, plan


def test_q64_top20_take_ordered_nation_broadcast(spark):
    """TPC-H Q10: top-20 via TakeOrderedAndProject; nation joins as a
    hint-broadcast dim; returnflag + date filters reach their scans."""
    df = REG["q64_tpch_q10"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_t43_centroid_no_explode(spark):
    """Centroid diversity: the dim-wise aggregate must NOT explode the
    vector column (a Generate node would multiply the corpus x dim
    before the shuffle); the centroid frame joins back as a broadcast."""
    df = REG["t43_centroid_diversity"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Generate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q71_q72_nation_broadcast_twice(spark):
    """TPC-H Q7/Q8: the nation dim joins twice (supplier + customer
    side) and BOTH copies must broadcast — a shuffle of a 25-row dim
    against the lineitem join would be a planning regression."""
    for name in ("q71_tpch_q7", "q72_tpch_q8"):
        plan = _plan(REG[name].spark_fn(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, (name, plan)


def test_t47_dataset_card_no_expand(spark):
    """Dataset card: every DISTINCT is pre-reduced — an Expand node
    would mean a mixed-distinct aggregate touched the corpus."""
    plan = _plan(REG["t47_dataset_card"].spark_fn(spark, SF_DIR))
    assert "Expand" not in plan, plan


def test_q27_similarity_no_interpreted_hof(spark):
    """q27's cosine is generated per-index arithmetic, NOT zip_with /
    aggregate / transform lambdas — higher-order functions evaluate
    outside whole-stage codegen (measured 4-10x slower on this shape;
    VERDICT r2 'What's wrong' #3). Pin the optimized plan HOF-free."""
    df = REG["q27_similarity_topk"].spark_fn(spark, SF_DIR)
    plan = _optimized(df)
    for hof in ("zip_with", "aggregate(", "transform(", "lambdafunction"):
        assert hof not in plan, f"interpreted HOF {hof!r} in q27 plan"


def test_ivf_assign_no_interpreted_hof(spark):
    """ivf_assign's small-k argmin is one generated array_position/array_min
    expression over per-index distance sums — no HOF lambdas, and each
    distance appears O(1) times (not k x as a least+CASE chain would
    after projection collapse)."""
    from rudder_server_spark.operators.similarity import ivf_assign

    e = load_table(spark, SF_DIR, "embeddings")
    cents = [[0.1] * 64, [-0.1] * 64]
    plan = _optimized(ivf_assign(e, cents))
    for hof in ("zip_with", "aggregate(", "lambdafunction"):
        assert hof not in plan, f"interpreted HOF {hof!r} in ivf_assign plan"


def test_ivf_assign_large_k_takes_arrow_path(spark):
    """Past IVF_CODEGEN_MAX_TERMS the argmin must leave codegen entirely:
    the k=16 x dim=64 unrolled expression OOMed janino's per-method local-
    variable analysis in a default 1g driver (r3 t57 vanilla-session
    crash). Pin: large k plans through ArrowEvalPython, and its cell
    assignments agree with the generated-SQL path on the fixture (modulo
    nothing — the fixture's cells are well-separated)."""
    from rudder_server_spark.operators.similarity import (
        IVF_CODEGEN_MAX_TERMS,
        ivf_assign,
    )

    e = load_table(spark, SF_DIR, "embeddings").limit(200)
    import random

    rng = random.Random(7)
    k = IVF_CODEGEN_MAX_TERMS // 64 + 1  # first k past the codegen gate
    cents = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(k)]
    big = ivf_assign(e, cents)
    assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()
    # force the codegen path on the same centroids for a value cross-check
    import rudder_server_spark.operators.similarity as S

    orig = S.IVF_CODEGEN_MAX_TERMS
    S.IVF_CODEGEN_MAX_TERMS = 10**9
    try:
        small = ivf_assign(e, cents)
        assert "ArrowEvalPython" not in small._jdf.queryExecution().executedPlan().toString()
        a = {r["vec_id"]: r["ivf_cell"] for r in big.select("vec_id", "ivf_cell").collect()}
        b = {r["vec_id"]: r["ivf_cell"] for r in small.select("vec_id", "ivf_cell").collect()}
        agree = sum(1 for i in a if a[i] == b[i])
        # float64 fold-order differences may flip exact near-ties only
        assert agree >= 0.99 * len(a), (agree, len(a))
    finally:
        S.IVF_CODEGEN_MAX_TERMS = orig


def test_semdedup_arrow_assign_single_eval_per_side(spark):
    """Guide §4.4 pin: filters derived from the UDF-computed cell column
    (the self-join's implied isnotnull on the join key) used to push
    BELOW the ArrowEvalPython while the projection above re-evaluated it
    — semdedup paid the corpus-wide BLAS assign 4x (2x per self-join
    side). The asNondeterministic pin keeps exactly one evaluation per
    side: 2 ArrowEvalPython nodes, each directly under its filter."""
    from rudder_server_spark.operators.similarity import (
        IVF_CODEGEN_MAX_TERMS,
        semdedup,
    )
    import random

    rng = random.Random(7)
    k = IVF_CODEGEN_MAX_TERMS // 64 + 1  # force the Arrow path
    cents = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(k)]
    e = load_table(spark, SF_DIR, "embeddings").limit(200)
    # the t27 consumption shape: cell_col pruned from the final output, so
    # only the self-join's two sides evaluate the assign
    out = semdedup(e, cents).select("vec_id", "dropped")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = plan.count("ArrowEvalPython")
    assert n == 2, f"expected one Arrow assign per self-join side, got {n}"
    # and the pair verify is the FOLDED dot over per-side norm columns —
    # the unrolled ~600-access cosine runs bytecode-interpreted (HotSpot
    # huge-method limit), measured 4.6x slower on the sf0.1 verify
    opt = _optimized(out)
    assert "zip_with" in opt, "semdedup verify lost the folded dot"


def test_q69_pipeline_broadcasts_and_window_group_limit(spark):
    """q69's batch pipeline: every control-plane dimension joins as a
    broadcast (no corpus-keyed dim shuffle), and the dedup window plans
    with WindowGroupLimit (partial top-1 per key before the exchange) —
    the only corpus shuffle is the dedup key exchange + final agg."""
    df = REG["q69_batch_pipeline"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastExchange") >= 4  # supp, sources, conns, dests x2
    assert "SortMergeJoin" not in plan


def test_q74_cleanup_no_expand_and_broadcast_expiry(spark):
    """q74: the distinct-run count is pre-reduced to the (table, run)
    grain (no Expand over the corpus), and the expired-run set joins as a
    broadcast anti-join."""
    df = REG["q74_rsources_cleanup"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan or "BroadcastHashJoin" in plan


def test_q75_kafka_shape_narrow_projection(spark):
    """q75: topic resolution is one narrow codegen'd projection — no
    shuffle before the final grouped count, no UDF, no Expand."""
    df = REG["q75_kafka_shape_audit"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly the agg + sort exchanges; topic precedence adds none
    assert plan.count("Exchange") <= 3


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime filter injection (the 100 TB shuffle-pruning lever): when a
    selective dim side feeds a shuffle join, Catalyst plants a bloom
    filter from the dim's join keys onto the FACT scan (might_contain),
    discarding non-matching fact rows before the exchange. Fires with
    default thresholds at cluster scale (application side > 10 GB); the
    test lowers the application-side threshold to our fixture size — the
    creation-side threshold is an UPPER bound on the dim build, kept at
    its default-like 10 MB."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").where(
            "o_orderpriority = '1-URGENT' AND o_totalprice > 400000"
        )
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = _optimized(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_t51_repeated_passages_hashed_keys_no_expand(spark):
    """t51: span-frequency shuffles 8-byte xxhash64 keys (never raw
    n-gram strings), there is no Expand, and no cartesian/nested-loop
    tier anywhere — the stats stay linear in corpus span count."""
    df = REG["t51_repeated_passages"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "xxhash64" in plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_t52_tfidf_broadcasts_term_dictionary(spark):
    """t52: the document-frequency dictionary joins back onto the (doc,
    term) counts as a BROADCAST (bounded vocabulary), never a corpus-
    keyed sort-merge join."""
    df = REG["t52_tfidf_keywords"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q78_funnel_pushed_type_filters_no_expand(spark):
    """q78: every step scan pushes its event_type equality to parquet and
    prunes to (user_id, ts); the cascade carries no cartesian tier and no
    Expand — the heavy side is always a filtered scan."""
    df = REG["q78_funnel"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    for step in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{step})" in plan, step
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q79_retention_single_distinct_no_expand(spark):
    """q79: countDistinct on one column plans as a two-phase partial
    aggregate, never an Expand (the mixed-distinct row multiplier)."""
    df = REG["q79_retention"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_t55_dup_clusters_no_cartesian(spark):
    """t55: family resolution adds only equi-joins (CC label joins +
    the n_chars election join) on top of the bounded shingle join — no
    nested-loop/cartesian tier anywhere."""
    df = REG["t55_dup_clusters"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_t56_knn_scores_in_arrow_batches(spark):
    """t56: pair scoring happens inside ONE Arrow-batched mapInPandas
    stage over the corpus scan (bounded query block closed over), so no
    join materializes the pair grid — the plan carries no nested-loop /
    cartesian / sort-merge pair generation and no interpreted HOF; the
    only exchange after scoring is the bounded candidate rank."""
    df = REG["t56_knn_classify"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HigherOrderFunction" not in plan and "ArrayAggregate" not in plan


def test_q81_attribution_no_lateral_no_cartesian(spark):
    """q81: the as-of union+window replaces any per-conversion lateral /
    nested-loop probe; pushed event_type filters reach the scan."""
    df = REG["q81_attribution"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "In(event_type, [click,view])" in plan or "EqualTo(event_type,purchase)" in plan


def test_q83_growth_distinct_grain_before_window(spark):
    """q83: the corpus reduces to the distinct (user, week) grain BEFORE
    the lag window — the window input is an Aggregate, and the window
    partitions by user (no single-task global sort)."""
    df = REG["q83_growth_accounting"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q84_async_batching_reuses_one_exchange(spark):
    """q84: the batching window materializes ONCE (r9: a lazy
    localCheckpoint — the uploads-distinct subtree and the finalize
    join-back both read its blocks instead of re-running the
    (destination, upload_window) exchange + row_number); the poll verdict
    joins back as a broadcast. The executed tree therefore reads the
    checkpoint through Scan ExistingRDD (twice: distinct + probe), never
    re-shuffles the jobs for the import-stats rollup, and the poll join
    never degrades to sort-merge."""
    df = REG["q84_async_destinations"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exchanges: uploads-distinct agg, rollup agg, broadcast, final range
    # sort — the batching window's own exchange lives behind the
    # checkpoint, evaluated once
    assert plan.count("Exchange ") <= 4, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    # the partial aggregate sits directly on the joined checkpoint output
    # — no hash exchange between partial_count and the checkpoint scan
    # (one there would mean the rollup re-shuffled the jobs)
    seg = plan.split("partial_count", 1)[-1].split("Scan ExistingRDD", 1)[0]
    assert "Exchange hashpartitioning" not in seg, plan


def test_q85_error_index_single_rollup_shuffle(spark):
    """q85: one hash exchange for the bounded index key (+ the final
    range sort); the max_by sample rides the same aggregate."""
    df = REG["q85_error_index"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange ") <= 2, plan
    assert "Expand" not in plan, plan


def test_q87_single_distinct_no_expand(spark):
    """q87: the MAR distinct plans as a two-phase aggregate, never an
    Expand over the record stream."""
    df = REG["q87_activation_records"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan, plan


def test_t64_novelty_keyed_joins_no_expand(spark):
    """N-gram novelty: first-occurrence attribution must be a keyed hash
    join on the shingle (never a nested loop), the min-per-shingle agg must
    combine map-side, and no Expand may multiply the exploded shingle
    table (the count/count_if pair is a conditional aggregate, not a
    mixed-DISTINCT plan)."""
    df = REG["t64_ngram_novelty"].spark_fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan
    assert "Expand" not in plan


def test_ivf_assign_codegen_boundary(spark):
    """IVF_CODEGEN_MAX_TERMS is the measured all-shape janino envelope
    (r6 probe: 288 terms compiles at (3,96)(4,72)(6,48)(9,32)(12,24)
    (18,16)(36,8); 320 fails at 3 of 4 splits). Pin the path selection at
    the boundary: exactly-at-cap stays generated SQL, one term past takes
    Arrow."""
    import random

    from rudder_server_spark.operators.similarity import (
        IVF_CODEGEN_MAX_TERMS,
        ivf_assign,
    )

    assert IVF_CODEGEN_MAX_TERMS == 288, "re-probe janino before moving the cap"
    e = load_table(spark, SF_DIR, "embeddings").limit(50)
    dim = 64
    rng = random.Random(11)
    # largest k with k*dim <= cap -> generated SQL (and it must execute)
    k_at = IVF_CODEGEN_MAX_TERMS // dim
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k_at)]
    at = ivf_assign(e, cents)
    assert "ArrowEvalPython" not in at._jdf.queryExecution().executedPlan().toString()
    assert at.where(F.col("ivf_cell").isin([0, 1])).count() >= 0  # runs
    # first k past the cap -> Arrow
    cents2 = cents + [[rng.uniform(-1, 1) for _ in range(dim)]]
    past = ivf_assign(e, cents2)
    assert "ArrowEvalPython" in past._jdf.queryExecution().executedPlan().toString()


def test_stream_audit_single_scan_shared_doc(spark):
    """q91/q96 fan their manager audits off ONE shared routed document
    (routed_stream_document), every shape CHAINED into a single
    aggregation pass over a SINGLE parquet scan and NO cache: after the
    round-9 fusion bqstream's post-explode counts ride q96's fused
    aggregate via bqstream_audit_cols (pushed-down record-array length),
    so each document frame is consumed exactly once and the r8 persists
    became pure overhead (and leaked blocks for external callers).
    Loses the r6 shape (every branch re-scanned parquet and re-built its
    own document), the r7 shape (one cache scan + one shuffle PER
    manager branch), and the r8 shape (a second cache scan + doc build
    for the bqstream explode)."""
    import re
    from collections import Counter

    for name, cache_scans in (("q91_stream_shapes", 0), ("q96_stream_shapes2", 0)):
        df = REG[name].spark_fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        ops = Counter(
            m.strip() for m in re.findall(r"^\(\d+\) ([A-Za-z ]+)", plan, re.M)
        )
        assert ops["Scan parquet"] == 1, (name, ops)
        assert ops["InMemoryTableScan"] == cache_scans, (name, ops)


def test_local_frame_is_a_jvm_local_relation(spark):
    """SCALE.md r11 'createDataFrame slice tax' and its r12 sequel: a
    frame over a Python RDD makes every task that touches it wait on a
    Python worker (measured 4.7 s to write 300 rows through coalesce(1)
    on local[32]). local_frame hands Spark a pyarrow Table instead: a
    LocalRelation up to spark.sql.execution.arrow.localRelationThreshold
    (48 MiB), a JVM-only Arrow-batch RDD above it, so no size of driver
    frame has a PythonRDD in its lineage, and a collect of a
    LocalRelation runs on the driver with no Spark job."""
    from rudder_server_spark.functions.localframe import local_frame

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    small = local_frame(
        spark, [(i, f"v{i}") for i in range(300)], "id long, v string"
    )
    big = local_frame(spark, [(i,) for i in range(250_000)], "id long")
    # 64 one-MiB strings: past the 48 MiB threshold, so the RDD path
    mib = "x" * (1 << 20)
    huge = local_frame(spark, [(i, mib) for i in range(64)], "id long, s string")
    for df in (small, big):
        assert _optimized(df).startswith("LocalRelation"), _optimized(df)
    assert not _optimized(huge).startswith("LocalRelation")
    for df in (small, big, huge):
        assert "PythonRDD" not in lineage(df)

    sc = spark.sparkContext
    sc.setJobGroup("local-frame-collect", "collect of a local frame")
    try:
        assert len(small.collect()) == 300
        jobs = sc.statusTracker().getJobIdsForGroup("local-frame-collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []

    empty = local_frame(spark, [], "id long, ts timestamp, tags array<string>")
    assert empty.schema.simpleString() == (
        "struct<id:bigint,ts:timestamp,tags:array<string>>"
    )
    assert empty.collect() == []
