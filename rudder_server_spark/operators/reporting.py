"""Reporting / stats aggregates (reference A5/A8/A9) and the
warehouse sync-window scheduler (§2.10).

Each is a plain groupBy — partial (map-side) aggregation everywhere, so at
100 TB the shuffle carries one row per group per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def staging_file_stats(
    df: DataFrame,
    file_col: str = "staging_file",
    payload_col: str = "payload",
    ts_col: str = "received_at",
    table_col: str | None = None,
) -> DataFrame:
    """A5 (warehouse/internal/model/staging.go:15-40): per staging file —
    TotalEvents, TotalBytes, FirstEventAt/LastEventAt (+ BytesPerTable when
    a table column is present)."""
    keys = [F.col(file_col)] + ([F.col(table_col)] if table_col else [])
    return df.groupBy(*keys).agg(
        F.count("*").alias("total_events"),
        F.sum(F.length(payload_col)).alias("total_bytes"),
        F.min(ts_col).alias("first_event_at"),
        F.max(ts_col).alias("last_event_at"),
    )


def gateway_event_stats(
    df: DataFrame,
    cols=("source_id", "event_type", "event_name"),
) -> DataFrame:
    """A8 (processor/processor.go:1609-1651): counts by source/type/name."""
    return df.groupBy(*[F.col(c) for c in cols]).agg(F.count("*").alias("n"))


def schema_hash(payload: Column) -> Column:
    """A9 key: hash of the payload's sorted top-level key set (the event
    'schema version', schema-forwarder semantics)."""
    return F.md5(F.to_json(F.array_sort(F.json_object_keys(payload))))


def schema_version_counts(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """A9 (processor/processor.go:2082-2101): frequency per schema hash,
    one retained sample payload."""
    return (
        df.withColumn("_h", schema_hash(F.col(payload_col)))
        .groupBy(F.col("_h").alias("schema_hash"))
        .agg(F.count("*").alias("n"), F.min(payload_col).alias("sample"))
    )


def sync_window_start(
    ts: Column, frequency_minutes: int, start_at_minutes: int = 0
) -> Column:
    """§2.10 tumbling sync windows (warehouse/router/scheduling.go:28-192):
    the upload window a timestamp belongs to, anchored at ``syncStartAt``
    past each UTC midnight."""
    anchor = F.make_dt_interval(F.lit(0), F.lit(0), F.lit(start_at_minutes), F.lit(0.0))
    shifted = ts - anchor
    win = F.window(shifted, f"{frequency_minutes} minutes")
    return win.getField("start") + anchor


def in_exclude_window(ts: Column, start_hour: int, end_hour: int) -> Column:
    """scheduling.go excludeWindow: true when ts falls inside the
    [start_hour, end_hour) local-day exclusion band (wraps midnight when
    start > end)."""
    h = F.hour(ts)
    if start_hour <= end_hour:
        return (h >= start_hour) & (h < end_hour)
    return (h >= start_hour) | (h < end_hour)


def sync_window_start_expr(ts: Column, freq_minutes: Column, start_minutes: Column) -> Column:
    """Column-parameterized twin of :func:`sync_window_start` for
    per-destination frequencies (scheduling.go reads syncFrequency per
    destination config): pure epoch arithmetic instead of ``F.window``
    (whose duration must be a literal), identical results for literal
    inputs (unit-pinned)."""
    sec = F.unix_timestamp(ts)
    fs = freq_minutes.cast("long") * 60
    ss = start_minutes.cast("long") * 60
    return F.timestamp_seconds(F.floor((sec - ss) / fs) * fs + ss)


def in_exclude_window_expr(ts: Column, start_hour: Column, end_hour: Column) -> Column:
    """Column-parameterized twin of :func:`in_exclude_window` (wraps
    midnight when start > end)."""
    h = F.hour(ts)
    return F.when(
        start_hour <= end_hour, (h >= start_hour) & (h < end_hour)
    ).otherwise((h >= start_hour) | (h < end_hour))


def hourly_anomalies(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Volume-spike detection over the metric stream: hourly counts per
    type, flagged where the count deviates from that type's mean by more
    than ``z_threshold`` sample standard deviations — the alert the
    reference's reporting pipeline (A2 rollups) feeds into ops dashboards
    (error-rate spikes, delivery stalls).

    Returns flagged rows only: (type_col, hour, n, z). Two aggregates —
    the hourly rollup (map-side combine; the shuffle carries one row per
    (type, hour) per partition) and a per-type stats reduce whose output
    is one row per type, broadcast back onto the bounded hourly grid.
    Nothing here scales with raw event count beyond the first partial
    aggregate.
    """
    hourly = df.groupBy(
        F.col(type_col), F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))
    stats = hourly.groupBy(type_col).agg(
        F.avg("n").alias("_mu"), F.stddev_samp("n").alias("_sd")
    )
    return (
        hourly.join(F.broadcast(stats), type_col)
        # sd=0 (constant hourly volume) can't have an outlier by definition;
        # dropping it explicitly also keeps the engines agreeing — Spark's
        # 0/0 is NULL (row filtered) while DuckDB's IEEE 0/0 is NaN, which
        # compares greater than any threshold and would emit the row
        .where(F.col("_sd") > 0)
        .withColumn("z", (F.col("n") - F.col("_mu")) / F.col("_sd"))
        .where(F.abs(F.col("z")) > F.lit(z_threshold))
        .select(type_col, "hour", "n", F.round("z", 3).alias("z"))
        .orderBy(type_col, "hour")
    )


def activation_records(
    df: DataFrame,
    fingerprint_col: str = "record_id",
    grain: tuple = ("workspace_id", "source_id", "destination_id"),
    exact: bool = True,
) -> DataFrame:
    """Activation-records (MAR) metering: distinct activation fingerprints
    per (workspace, source, destination) grain — enterprise/
    activationrecords/records_reporter.go:132-230 (one HLL per recordKey,
    murmur-hashed fingerprints, fail-closed on missing fields).

    FAIL-CLOSED like the reference: rows with a NULL fingerprint or NULL
    grain key are skipped, never miscounted into a default bucket. The
    caller pre-filters to reverse-ETL traffic (retlSourceCategory
    classification, records_reporter.go:159-162) — category resolution is
    a config lookup, not this aggregate's concern.

    ``exact=True`` counts distinct exactly (single-distinct two-phase
    aggregate, no Expand — the oracle-checkable tier); ``exact=False``
    uses approx_count_distinct, the mergeable HLL tier matching the
    reference's sketch semantics at unbounded cardinality (the full
    sketch-carrying path is operators/sketches.py).
    """
    keep = F.col(fingerprint_col).isNotNull()
    for g in grain:
        keep = keep & F.col(g).isNotNull()
    agg = (
        F.countDistinct(fingerprint_col)
        if exact
        else F.approx_count_distinct(fingerprint_col)
    )
    return (
        df.where(keep)
        .groupBy(*grain)
        .agg(agg.alias("activation_records"))
    )
