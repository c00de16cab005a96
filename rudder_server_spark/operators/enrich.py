"""Event enrichment (reference P9 geo, P10 bot).

- Geo: the reference looks each event's IP up in a MaxMind db
  (internal/enricher/geolocation.go:68-143). Spark-first: the lookup table
  becomes a broadcast range-join against (ip_lo, ip_hi, geo columns) — the
  dimension side is a few MB, so every executor joins locally; no shuffle
  of the event stream.
- Bot: UA-based detection at the gateway (gateway/handle.go:415-422,
  internal/enricher/bot.go:23-59) — a codegen'd rlike over the UA string
  that callers enrich with or filter on (processor/processor.go:2004-2036).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def ipv4_to_long(ip: Column) -> Column:
    """Dotted-quad → 32-bit unsigned as BIGINT (NULL for malformed)."""
    parts = F.split(ip, r"\.")
    valid = (F.size(parts) == 4) & ip.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    octets = [F.element_at(parts, i).cast("bigint") for i in (1, 2, 3, 4)]
    in_range = valid
    for o in octets:
        in_range = in_range & (o <= 255)
    val = ((octets[0] * 16777216) + (octets[1] * 65536) + (octets[2] * 256) + octets[3])
    return F.when(in_range, val)


def geo_enrich(
    df: DataFrame,
    ranges: DataFrame,
    ip_col: str = "context_ip",
    lo_col: str = "ip_lo",
    hi_col: str = "ip_hi",
) -> DataFrame:
    """P9: left range-join events to a broadcast IP-range dimension.

    ``ranges`` carries (ip_lo BIGINT, ip_hi BIGINT, <geo columns...>); rows
    with no match keep NULL geo columns (the reference leaves context.geo
    absent). Broadcast keeps this a map-side join at any event volume.
    """
    ip_num = ipv4_to_long(F.col(ip_col))
    e = df.withColumn("_ip_num", ip_num)
    r = F.broadcast(ranges)
    cond = (F.col("_ip_num") >= r[lo_col]) & (F.col("_ip_num") <= r[hi_col])
    return e.join(r, cond, "left").drop("_ip_num", lo_col, hi_col)


# Representative UA markers from the reference's bot heuristics (bot.go).
BOT_UA_REGEX = r"(?i)(bot|crawler|spider|crawling|scraper|curl/|wget/|python-requests|headless)"


def bot_flag(ua: Column) -> Column:
    """P10: boolean bot marker from the user-agent string."""
    return F.coalesce(ua.rlike(BOT_UA_REGEX), F.lit(False))
