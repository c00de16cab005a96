"""Event-envelope normalization (reference P2/P3/P4).

What the gateway/processor stamp onto every event before anything else runs:

- P4 messageId fill/sanitize: trim + strip control characters, random UUID
  when empty (gateway/handle.go:320-328).
- P3 rudderId: md5 of ``userId + ":" + anonymousId`` formatted as a UUID
  (gateway/handle.go:1053-1060). Deterministic — the same identity pair
  always yields the same rudder_id, which is what makes it a join key.
- P2 clock-skew corrected event time: ``timestamp = receivedAt - (sentAt -
  originalTimestamp)`` (processor/processor.go:1026-1054); all four time
  columns are stamped UTC. The envelope has no client ``timestamp``
  column to prefer.

All pure column expressions — whole-stage codegen, no shuffle: at 100 TB this
stage is a narrow map fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# non-printable / control chars the reference strips from messageId
_CTRL = "[\\x00-\\x1f\\x7f]"


def sanitize_message_id(message_id: Column) -> Column:
    """P4: trim + strip control chars; random UUIDv4 when empty/null.

    The UUID branch is intentionally non-deterministic (matches the
    reference); callers needing replayability should filter it out or
    pre-fill ids upstream.
    """
    cleaned = F.trim(F.regexp_replace(message_id, _CTRL, ""))
    return F.when(cleaned.isNull() | (F.length(cleaned) == 0), F.expr("uuid()")).otherwise(cleaned)


def rudder_id(user_id: Column, anonymous_id: Column) -> Column:
    """P3: md5-uuid over ``user_id:anonymous_id`` (gateway/handle.go:1053).

    Null ids participate as empty strings, matching the reference's string
    concatenation of possibly-absent fields.
    """
    h = F.md5(
        F.concat(
            F.coalesce(user_id.cast("string"), F.lit("")),
            F.lit(":"),
            F.coalesce(anonymous_id.cast("string"), F.lit("")),
        )
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def derived_timestamp(
    received_at: Column, sent_at: Column, original_timestamp: Column
) -> Column:
    """P2: clock-skew correction.

    ``timestamp = receivedAt - (sentAt - originalTimestamp)``.
    Timestamp-minus-timestamp yields an exact day-time interval, so the
    arithmetic is µs-exact and works for both TIMESTAMP and TIMESTAMP_NTZ
    inputs (the fixtures read as NTZ).
    """
    return received_at - (sent_at - original_timestamp)


def normalize_envelope(df: DataFrame) -> DataFrame:
    """Apply P2+P3+P4 in one narrow projection.

    Adds/overwrites: ``message_id`` (sanitized), ``rudder_id``,
    ``timestamp``. Everything else passes through untouched. This is the
    first preprocessing step wherever events enter (before F1 dedup, as the
    gateway fills ids before the processor dedups on them).
    """
    return (
        df.withColumn("message_id", sanitize_message_id(F.col("message_id")))
        .withColumn("rudder_id", rudder_id(F.col("user_id"), F.col("anonymous_id")))
        .withColumn(
            "timestamp",
            derived_timestamp(
                F.col("received_at"), F.col("sent_at"), F.col("original_timestamp")
            ),
        )
    )
