"""Structured-Streaming shell (SURVEY §2.10, M5).

The reference's pipeline is a hand-built micro-batch loop: the processor
picks ≤10k jobs per tick (processor/processor.go:800-833), runs the
enrich/dedup/filter/transform stages, and writes router/batchrouter jobs in
one transaction; the router delivers with per-key ordering and
retry/backoff (router/worker.go:357-745, 1053); dedup state lives in a
BadgerDB keystore committed only after the jobsdb txn
(services/dedup/dedup.go:43-120).

Spark-first mapping — the batch operators ARE the streaming operators:

- ingestion        → ``spark.readStream`` file source (JSON-lines, the
                     staging-file format S4) with a fixed envelope schema
- micro-batching   → Structured Streaming triggers (`availableNow` in
                     tests; `processingTime` in production),
                     ``maxFilesPerTrigger`` for batch shaping
- exact dedup (F1) → ``withWatermark(received_at) +
                     dropDuplicatesWithinWatermark(message_id)`` — the
                     keystore-with-TTL semantics, state-store-backed
- pipeline stages  → the same envelope/flatten/fan-out functions used in
                     batch, applied inside ``foreachBatch``
- exactly-once-ish → checkpointing + idempotent parquet append per
                     micro-batch (epoch-id-named output committed by the
                     streaming checkpoint, like the reference's
                     txn-then-keystore-commit ordering)
- retry/backoff    → status tables: failed deliveries re-queued with
                     ``retry_at = now + backoff(attempt)``; aborted after
                     ``max_attempts`` → DLQ table (router/worker.go:1053)
- per-key ordering → ``repartition(user) + sortWithinPartitions(seq)``
                     before delivery inside each micro-batch

At cluster scale the same program runs unchanged against object-storage
paths; the state store (RocksDB) holds dedup keys and the checkpoint makes
recovery exactly-once per sink table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from rudder_server_spark.operators.envelope import normalize_envelope
from rudder_server_spark.pipeline_warehouse import commit_tables, run_warehouse_upload

ENVELOPE_SCHEMA = (
    "message_id string, user_id long, anonymous_id string, event_type string, "
    "event_name string, record_id string, received_at timestamp, sent_at timestamp, "
    "original_timestamp timestamp, payload string"
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str = ENVELOPE_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S4 streaming scan: JSON-lines event files (gz transparent)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(source_dir)


def dedup_stream(stream: DataFrame, watermark: str = "30 days") -> DataFrame:
    """F1 exact dedup with the reference's ~30d TTL window
    (services/dedup/dedup.go: keystore TTL): state-store-backed, dropped
    keys age out with the watermark instead of growing forever.

    The dedup key is record_id for record-stream (retl) events when the
    stream carries record_id/source_category columns (rules.go:40-60 —
    re-synced warehouse rows arrive under fresh messageIds), else
    message_id.
    """
    from rudder_server_spark.operators.filters import dedup_key

    cols = stream.columns
    key = dedup_key(
        F.col("message_id"),
        F.col("record_id") if "record_id" in cols else None,
        F.col("source_category") if "source_category" in cols else None,
    )
    return (
        stream.withColumn("_dedup_key", key)
        .withWatermark("received_at", watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def processed_stream(stream: DataFrame, watermark: str = "30 days") -> DataFrame:
    """preprocess stage: dedup + envelope stamping (P2-P4), still a stream."""
    return normalize_envelope(dedup_stream(stream, watermark))


# ---------------------------------------------------------------------------
# foreachBatch sinks


def _write(df: DataFrame, path: str) -> None:
    # ONE load file per table per micro-batch — the reference's staging
    # contract (a batch produces one load file per table, uploaded as one
    # object; warehouse/internal/loadfiles). Also the small-file fix: an
    # append per batch per state-store partition would litter the sink
    # with tiny parquet files that every read-back then pays to list and
    # open. Cluster deployments size this by batch volume instead of 1.
    df.coalesce(1).write.mode("append").parquet(path)


def warehouse_sink(
    out_dir: str,
    schemas: dict | None = None,
    promote: set | None = None,
    destination_type: str | None = None,
):
    """foreachBatch: materialize the event fan-out tables per micro-batch.

    Parquet append per table; the streaming checkpoint provides the
    effectively-once guarantee the reference gets from its jobsdb txn.

    ``schemas``/``promote`` are the cached consolidation verdicts from the
    schema registry (wh_schemas, warehouse/schema/schema.go:205-343): the
    reference fetches the warehouse schema once and reuses it per upload
    rather than re-deriving from every staging batch — passing them skips
    the per-micro-batch discovery + promotion-sampling jobs. Left None,
    each batch discovers its own (first-batch bootstrap).

    The tables go through the batch upload's ``commit_tables``, so
    ``destination_type`` applies the same index-length constraints (a
    violating rule is discarded identically in both paths) and the
    per-table writes over ONE materialized parsed frame run on its writer
    pool — on local mode ~2 job latencies instead of O(n_tables) serial.
    """
    from rudder_server_spark.operators.event_tables import event_table_fanout

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # checkpoint FIRST, emptiness probe on the checkpointed blocks: the
        # batch frame re-executes its incremental plan (dedup state store
        # included) on every action, so isEmpty-before-checkpoint ran the
        # dedup once for the probe and again for the materialization
        # (measured 0.15-0.2 s/batch at bench scale). On an empty batch the
        # eager checkpoint is one empty-partition job — the rare case pays
        # pennies so the common case executes the plan exactly once.
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        tables = event_table_fanout(
            batch_df, materialize=True, schemas=schemas, promote=promote,
            # micro-batches are bounded by the trigger: vouch the identity
            # graph small so mappings resolves in one capped-collect job
            # with a map-literal label attach (falls back to the normal
            # distributed CC path if a batch exceeds the cap)
            small_graph=True,
        )
        commit_tables(
            tables, lambda n, df: _write(df, os.path.join(out_dir, n)), destination_type
        )

    return write_batch


def router_sink(
    out_dir: str,
    deliver,
    max_attempts: int = 3,
    backoff_seconds: int = 60,
):
    """foreachBatch router with per-key ordering and retry/DLQ semantics.

    ``deliver(df) -> df with boolean 'delivered'`` is the destination
    adapter (HTTP in the reference — injected here so tests use a
    deterministic mock). Within each micro-batch:

      1. pending retries whose ``retry_at`` has passed are unioned in,
      2. events are repartitioned by user and ordered by (user, seq) —
         the reference's at-most-one-in-flight-per-key barrier
         (router/internal/eventorder) per micro-batch,
      3. failures append to ``router_retries`` with attempt+1 and
         exponential backoff; attempts ≥ max_attempts go to ``router_dlq``
         (terminal 'aborted', jobsdb state machine jobsdb.go:489-521).
    """
    retries_path = os.path.join(out_dir, "router_retries")
    delivered_path = os.path.join(out_dir, "router_delivered")
    dlq_path = os.path.join(out_dir, "router_dlq")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("attempt", F.lit(0))
        not_due = None
        try:
            # materialize BEFORE the end-of-batch overwrite of the same path
            prev = spark.read.parquet(retries_path).localCheckpoint(eager=True)
            now_ts = F.current_timestamp()
            due = prev.where(F.col("retry_at") <= now_ts).drop("retry_at")
            not_due = prev.where(F.col("retry_at") > now_ts)
            batch = batch.unionByName(due, allowMissingColumns=False)
        except Exception:
            pass  # no retries yet
        if batch.isEmpty():
            return
        # per-key ordering barrier: all of a user's events are delivered by
        # one task, in (received_at, message_id) order, within this batch
        ordered = batch.repartition(F.col("user_id")).sortWithinPartitions(
            "user_id", "received_at", "message_id"
        )
        result = deliver(ordered).localCheckpoint(eager=True)
        _write(result.where(F.col("delivered")).drop("delivered"), delivered_path)
        failed = result.where(~F.col("delivered")).drop("delivered")
        failed = failed.withColumn("attempt", F.col("attempt") + 1)
        _write(
            failed.where(F.col("attempt") >= max_attempts).withColumn(
                "aborted_at", F.current_timestamp()
            ),
            dlq_path,
        )
        requeue = failed.where(F.col("attempt") < max_attempts).withColumn(
            "retry_at",
            F.current_timestamp()
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0),
                (F.lit(backoff_seconds) * F.pow(F.lit(2), F.col("attempt") - 1)).cast("double"),
            ),
        )
        if not_due is not None:
            requeue = requeue.unionByName(not_due)
        # drained retries leave the queue: rewrite the retry table (both
        # inputs are materialized above, so overwriting the path we read
        # from is safe). A Delta MERGE would do this transactionally.
        requeue.write.mode("overwrite").parquet(retries_path)

    return write_batch


def run_warehouse_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 days",
    available_now: bool = True,
    schemas: dict | None = None,
    promote: set | None = None,
    destination_type: str | None = None,
):
    """End-to-end: stream JSON event files → dedup → envelope → fan-out
    tables under ``out_dir``. Returns the StreamingQuery."""
    stream = processed_stream(read_event_stream(spark, source_dir), watermark)
    writer = (
        stream.writeStream.foreachBatch(
            warehouse_sink(out_dir, schemas, promote, destination_type)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_router_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    deliver,
    max_attempts: int = 3,
    backoff_seconds: int = 60,
    available_now: bool = True,
):
    """End-to-end: stream → dedup/envelope → ordered delivery with
    retry/DLQ tables under ``out_dir``. Returns the StreamingQuery."""
    stream = processed_stream(read_event_stream(spark, source_dir))
    writer = (
        stream.writeStream.foreachBatch(
            router_sink(out_dir, deliver, max_attempts, backoff_seconds)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Custom stateful operator (SURVEY §2.10 "state stores"): arbitrary per-key
# running state via applyInPandasWithState — the Spark shape for operators
# the reference keeps in BadgerDB/Postgres (per-user counters, throttle
# buckets, order barriers). State lives in the checkpointed state store
# (RocksDB at scale), keyed by the grouping column.


def stateful_user_totals(stream: DataFrame):
    """Running per-user (event count, value total) maintained across
    micro-batches. Emits the updated totals for every user seen in a batch.

    The closure is self-contained (cloudpickle by value) — workers don't
    need this package importable.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum()) if "value" in pdf else 0.0
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# Streaming session windows (SURVEY §2.10 "session windows"): the reference
# has no session operator (uploads batch by arrival time), but a CDP's
# sessionization — q29's 30-minute-gap batch query — has a native streaming
# form: session_window(event_time, gap) + watermark. Sessions merge as events
# arrive and FINALIZE (emit, append mode) once the watermark passes the
# session end; late events inside the watermark re-open/merge sessions,
# later ones are dropped. State is per (user, open session) in the
# checkpointed state store — RocksDB at scale.


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session aggregation over an event-time stream: one output
    row per closed session with its bounds, event count, and value total —
    the streaming twin of the q29 batch sessionizer (same gap semantics;
    batch = window lag/cumsum, stream = native session_window state)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_total"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_total",
        )
    )


def stream_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.10): each purchase joins every
    click by the same user within the preceding ``window`` — q25's as-of
    pattern in its native streaming form (attribution while events flow,
    instead of a batch backfill).

    Both sides carry watermarks so the join STATE is bounded: a buffered
    click can be dropped once the watermark guarantees no future purchase
    can reach back to it (state retention ≈ watermark + window — this is
    what makes the operator runnable forever at scale). Inner-join matches
    emit as soon as both sides arrive; only state cleanup waits for the
    watermark.

    ``how='left_outer'`` emits unattributed purchases too (null
    click_event_id) — but only once the watermark PASSES the purchase's
    window, when no future click can still match it. Unmatched rows inside
    the final watermark window of a bounded run therefore never emit; a
    production stream flushes them as later events advance the watermark.
    """
    p = purchases.withWatermark("ts", watermark).alias("p")
    c = clicks.withWatermark("ts", watermark).alias("c")
    return p.join(
        c,
        F.expr(
            f"p.user_id = c.user_id"
            f" AND c.ts >= p.ts - INTERVAL {window}"
            f" AND c.ts <= p.ts"
        ),
        how,
    ).select(
        F.col("p.event_id").alias("purchase_event_id"),
        F.col("c.event_id").alias("click_event_id"),
    )


def suppression_refresh_sink(out_dir: str, suppression_path: str):
    """foreachBatch sink that RE-READS the suppression list every
    micro-batch — the streaming form of live suppression updates
    (enterprise/suppress-user/handler.go syncs the list on a loop; the
    gateway applies the current snapshot per request, handle.go:574-602).

    Inside ``foreachBatch`` the batch DataFrame is a plain batch frame, so
    the per-tick re-read is an ordinary broadcast anti-join against the
    latest list state: list updates take effect at the NEXT trigger with
    no restart, and the list never enters streaming state. At 100 TB the
    list stays a broadcast-sized dimension (user ids), exactly like the
    reference's in-memory suppression snapshot.
    """
    from rudder_server_spark.operators.filters import suppress_users

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            sup = spark.read.parquet(suppression_path).select("user_id")
        except Exception:  # list not published yet -> suppress nothing
            sup = spark.createDataFrame([], "user_id long")
        kept = suppress_users(batch_df, sup, on=("user_id",))
        kept.write.mode("append").parquet(out_dir)

    return write_batch


def transactional_warehouse_sink(out_dir: str):
    """foreachBatch sink that commits each micro-batch as one batch upload
    (``run_warehouse_upload``) with ``upload_id = epoch-<id>`` — one
    table-commit path for streaming and batch: every table MERGEs on its
    own key through load_commit's atomic pointer swap, and a REPLAYED
    epoch (crash between sink completion and checkpoint commit — the
    window where plain parquet append double-writes) is refused by the
    upload's idempotency log, so every table advances exactly once per
    epoch (the Structured Streaming exactly-once sink: idempotent writes
    keyed by the epoch id).
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # lazy checkpoint: the upload's several jobs re-use one execution
        # of the batch plan, and a refused replay never runs it at all
        run_warehouse_upload(
            batch_df.sparkSession, batch_df.localCheckpoint(eager=False),
            out_dir, f"epoch-{epoch_id:020d}",
        )

    return write_batch


# ---------------------------------------------------------------------------
# TTL dedup keystore (reference parity: services/dedup/dedup.go:43-120 keeps
# message-id keys in BadgerDB with a ~30-day TTL and drops re-deliveries).
# `dropDuplicatesWithinWatermark` (the F1 default above) bounds state by
# EVENT-TIME watermark; the reference's keystore is bounded by WALL-CLOCK
# TTL instead. transformWithStateInPandas expresses exactly that: one
# value-state entry per dedup key with a TTL, RocksDB-backed at scale.


def ttl_dedup_stream(
    stream: DataFrame,
    key_col: str = "message_id",
    ttl_ms: int = 30 * 24 * 3600 * 1000,
    engine: str = "auto",
) -> DataFrame:
    """Drop rows whose dedup key has a live (non-expired) state entry —
    across micro-batches and within a batch (first occurrence wins).

    Two equivalent physical forms, selected by ``engine``:

    - ``"tws"``: transformWithStateInPandas with a native TTL value state
      (requires the RocksDB state store provider — transformWithState is
      built on its column-family support — and ``google.protobuf`` for
      the Python state-server protocol).
    - ``"applyinpandas"``: applyInPandasWithState with a processing-time
      timeout; the state entry stores its insert-time DEADLINE and each
      invocation re-arms the remaining duration, reproducing BadgerDB's
      set-at-insert TTL (re-deliveries do NOT extend the TTL,
      dedup.go:43-120) on the default state store with no extra deps.
    - ``"auto"`` (default): tws when protobuf is importable, else the
      applyInPandasWithState form — same semantics either way.

    Closures/classes are defined inside this function so cloudpickle
    ships them by value (workers don't need this package importable).
    """
    if engine == "auto":
        try:
            import google.protobuf  # noqa: F401

            engine = "tws"
        except ImportError:
            engine = "applyinpandas"
    if engine == "applyinpandas":
        return _ttl_dedup_applyinpandas(stream, key_col, ttl_ms)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = stream.schema

    class _TtlDedup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # one tiny entry per key; TTL evicts it after ttl_ms of
            # wall-clock, after which the key dedups afresh — the BadgerDB
            # keystore semantics (re-sends beyond the TTL re-deliver)
            self._seen = handle.getValueState("seen", "seen byte", ttl_ms)

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                for _ in rows:
                    pass
                return
            emitted = False
            for pdf in rows:
                if not emitted and len(pdf):
                    yield pdf.iloc[[0]]
                    emitted = True
            if emitted:
                self._seen.update((1,))

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_TtlDedup(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


def _ttl_dedup_applyinpandas(
    stream: DataFrame, key_col: str, ttl_ms: int
) -> DataFrame:
    """The protobuf-free TTL-dedup form (see ttl_dedup_stream).

    State per key = (deadline_epoch_ms,) stamped at FIRST insert; the
    processing-time timeout re-arms with the REMAINING time on every
    later invocation, so a re-delivery never extends the TTL (BadgerDB
    SetWithTTL-at-insert semantics). On timeout the entry is removed and
    the key dedups afresh.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream.schema
    _ttl = int(ttl_ms)

    def fn(key, pdfs, state):
        import time as _time

        if state.hasTimedOut:
            state.remove()
            return
        now_ms = int(_time.time() * 1000)
        if state.exists:
            for _ in pdfs:  # drain: all rows are re-deliveries
                pass
            (deadline,) = state.get
            state.setTimeoutDuration(max(int(deadline) - now_ms, 1))
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]]
        if first is not None:
            state.update((now_ms + _ttl,))
            state.setTimeoutDuration(_ttl)
            yield first

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        out_schema,
        "deadline long",
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def anomaly_stream(
    stream: DataFrame,
    stats: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    z_threshold: float = 3.0,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of reporting.hourly_anomalies — the live ops alert:
    event-time windowed counts per type, flagged against a BROADCAST
    historical profile ``stats`` (type, mu, sd — refreshed out-of-band
    like the suppression list). Append mode: a window emits once the
    watermark closes it, so alerts are final, never retracted. The only
    stateful operator is the windowed count (bounded by types × open
    windows); the profile join and z filter are stateless on the bounded
    aggregate output."""
    hourly = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(type_col), F.window(F.col(ts_col), window))
        .agg(F.count("*").cast("long").alias("n"))
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        hourly.join(F.broadcast(stats), type_col)
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > F.lit(z_threshold))
        .select(
            type_col,
            F.col("window.start").alias("hour"),
            "n",
            F.round("z", 3).alias("z"),
        )
    )
