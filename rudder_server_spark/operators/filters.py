"""Policy filters (reference F2-F9): suppression, event blocking,
destination fan-out predicates, consent.

All are broadcast-dimension joins or pure column predicates — no event-side
shuffle at any scale:

- F2 user suppression  → broadcast ``left_anti`` join (gateway/handle.go:
  574-602, enterprise/suppress-user/handler.go:27)
- F3 event blocking    → broadcast ``left_anti`` on (event_type, event_name)
  (gateway/handle.go:604-633, processor/processor.go:2038-2062)
- F6 `integrations` object → per-event destination opt-in/out map
  (processor/integrations/integrations.go:33-70)
- F7 supported message types → join destination config + keep-with-status
  (processor/eventfilter/eventfilter.go:24-294)
- F8 consent categories → `arrays_overlap` against the destination's
  consent config (processor/consent.go:44-230)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


# source categories whose events are record streams: their stable identity
# is the upstream record, not the message (CanUseRecordID,
# embedded/warehouse/internal/utils/utils.go:29,152-155)
RECORD_STREAM_CATEGORIES = ("cloud", "singer-protocol")


def dedup_key(df: DataFrame) -> Column:
    """F1 dedup key of ``df``'s rows: ``record_id`` for record-stream
    (retl/warehouse-as-source) events, else ``message_id``.

    A re-sync of the same warehouse rows re-delivers the same records under
    FRESH messageIds — messageId-keyed dedup would duplicate every row, so
    the reference keys those sources by recordId instead (rules.go:40-60
    extractCloudRecordID; CanUseRecordID categories 'cloud' and
    'singer-protocol'; ExtractRules key by recordId unconditionally).
    The key reads the columns ``df`` carries: without ``record_id`` it is
    the message id; without ``source_category`` a non-null record_id itself
    marks the record stream — only retl/extract flows populate it. Pure
    column expression — fuses into the scan.
    """
    if "record_id" not in df.columns:
        return F.col("message_id")
    record_id = F.col("record_id")
    usable = record_id.isNotNull() & (F.length(record_id) > 0)
    if "source_category" in df.columns:
        usable = usable & F.lower(F.coalesce(F.col("source_category"), F.lit(""))).isin(
            *RECORD_STREAM_CATEGORIES
        )
    return F.when(usable, record_id).otherwise(F.col("message_id"))


def batch_dedup(df: DataFrame) -> DataFrame:
    """F1 batch form: keep the first-seen row per :func:`dedup_key`
    (row_number over the key ordered by ingest sequence — processor.go:
    1941-1983 in-batch dedup + dedup.go keystore semantics). ``df``'s
    message ids must already be filled (P4, ``normalize_envelope``): every
    empty id would otherwise share one key."""
    from pyspark.sql import Window

    w = Window.partitionBy(dedup_key(df)).orderBy(
        F.col("received_at").asc(), F.col("message_id").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def suppress_users(df: DataFrame, suppressed: DataFrame, on=("user_id",)) -> DataFrame:
    """F2: drop events whose identity appears in the suppression table."""
    return df.join(F.broadcast(suppressed), list(on), "left_anti")


def block_events(df: DataFrame, blocked: DataFrame, on=("event_type", "event_name")) -> DataFrame:
    """F3: drop events matching a blocked (type, name) rule."""
    return df.join(F.broadcast(blocked), list(on), "left_anti")


def integrations_allows(integrations_json: Column, dest: Column) -> Column:
    """F6: the client event's ``integrations`` object opts destinations
    in/out: ``{"All": true, "Amplitude": false}``. Destination key wins,
    then ``All``, default true (integrations.go:33-70)."""
    m = F.from_json(integrations_json, "map<string,boolean>")
    return F.coalesce(
        F.element_at(m, dest), F.element_at(m, F.lit("All")), F.lit(True)
    )


def fanout_to_destinations(
    df: DataFrame,
    connections: DataFrame,
    source_col: str = "source_id",
    dest_col: str = "destination_id",
    integrations_col: str | None = None,
) -> DataFrame:
    """J10 + F5/F6: event × enabled destinations of its source (1→N), then
    the per-event integrations opt-out. ``connections`` is the small
    source↔destination dimension — broadcast."""
    out = df.join(F.broadcast(connections), [source_col], "inner")
    if integrations_col:
        out = out.where(integrations_allows(F.col(integrations_col), F.col(dest_col)))
    return out


def filter_supported_types(
    df: DataFrame,
    dest_config: DataFrame,
    type_col: str = "event_type",
    dest_col: str = "destination_id",
    supported_col: str = "supported_message_types",
) -> DataFrame:
    """F7: annotate each event 'ok' / 'filtered' against the destination's
    supportedMessageTypes; filtered rows are KEPT with status (the
    reference marks jobs `filtered`, not dropped).

    A NULL supported list means the destination definition carries no
    supportedMessageTypes config, and the reference then skips type
    filtering entirely (GetSupportedMessageTypes returns ok=false,
    eventfilter.go:24-44) — even for message types outside the known
    8-type vocabulary. An explicitly EMPTY list filters everything.
    """
    joined = df.join(F.broadcast(dest_config), [dest_col], "left")
    return joined.withColumn(
        "status",
        F.when(
            F.col(supported_col).isNull()
            | F.array_contains(F.col(supported_col), F.col(type_col)),
            F.lit("ok"),
        ).otherwise(F.lit("filtered")),
    ).drop(supported_col)


def consent_filter(
    df: DataFrame,
    denied_col: str = "denied_consent_ids",
    dest_categories_col: str = "consent_category_ids",
) -> DataFrame:
    """F8: drop the event-destination pair when the event's denied consent
    ids overlap the destination's configured categories (oneTrust semantics,
    consent.go:44-230)."""
    overlap = F.arrays_overlap(F.col(denied_col), F.col(dest_categories_col))
    return df.where(~F.coalesce(overlap, F.lit(False)))
