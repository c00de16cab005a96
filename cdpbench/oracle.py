"""Expected results computed with DuckDB from the generated inputs alone.

Nothing here imports the engine: each query restates the documented
semantics of the stage it checks (first-seen dedup on message or record id,
suppression, enabled-source gate, fan-out over enabled connections, consent
and supported-type filters, per-destination hourly token bucket, the mock
destination's failure hash, MERGE-by-primary-key landed counts, exactly-once
streaming delivery).
"""

from __future__ import annotations

import duckdb
import pandas as pd


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def diff(expected: dict, got: dict, limit: int = 5) -> str:
    keys = sorted(set(expected) | set(got), key=str)
    bad = [f"{k}: expected {expected.get(k, 0)}, got {got.get(k, 0)}" for k in keys
           if expected.get(k, 0) != got.get(k, 0)]
    return "; ".join(bad[:limit]) + (f" (+{len(bad) - limit} more)" if len(bad) > limit else "")


def _workspace_frames(ws: dict) -> dict[str, pd.DataFrame]:
    src_rows, dest_rows, conn_rows = [], {}, set()
    for s in ws["config"]["sources"]:
        src_rows.append((s["id"], s["enabled"]))
        for d in s["destinations"]:
            ddef = d["destinationDefinition"]["config"]
            types = ddef.get("supportedMessageTypes")
            consent = [c["consent"] for p in d["config"].get("consentManagement", []) for c in p["consents"]]
            dest_rows[d["id"]] = (d["id"], types, consent,
                                  ws["caps"].get(d["id"], ws["default_cap"]), ws["fail_pct"][d["id"]])
            if s["enabled"] and d["enabled"]:
                conn_rows.add((s["id"], d["id"]))
    return {
        "o_sources": pd.DataFrame(src_rows, columns=["source_id", "enabled"]),
        "o_dests": pd.DataFrame(list(dest_rows.values()),
                                columns=["destination_id", "types", "consent", "cap", "fail_pct"]),
        "o_conns": pd.DataFrame(sorted(conn_rows), columns=["source_id", "destination_id"]),
        "o_suppressed": pd.DataFrame({"user_id": ws["suppressed"]}),
    }


def processor_expected(con, path: str, ws: dict, max_attempts: int) -> dict:
    """{"stages": {stage: rows}, "outcomes": {(destination, outcome): jobs}}
    for one gateway batch file."""
    for name, frame in _workspace_frames(ws).items():
        con.register(name, frame)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE o_dedup AS
        SELECT * FROM read_parquet('{path}')
        QUALIFY row_number() OVER (
            PARTITION BY CASE WHEN record_id IS NOT NULL AND length(record_id) > 0
                              THEN record_id ELSE message_id END
            ORDER BY received_at, message_id) = 1
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE o_supp AS
        SELECT * FROM o_dedup WHERE user_id NOT IN (SELECT user_id FROM o_suppressed)
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE o_jobs AS
        SELECT e.message_id, e.received_at, c.destination_id, d.cap, d.fail_pct,
               CASE WHEN d.types IS NULL OR list_contains(d.types, e.event_type)
                    THEN 'ok' ELSE 'filtered' END AS status
        FROM o_supp e
        JOIN o_sources s ON s.source_id = e.source_id AND s.enabled
        JOIN o_conns c ON c.source_id = e.source_id
        JOIN o_dests d ON d.destination_id = c.destination_id
        WHERE NOT coalesce(list_has_any(e.denied_consent_ids, d.consent), false)
    """)
    stages = {
        "1_input": con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0],
        "2_deduped": con.execute("SELECT count(*) FROM o_dedup").fetchone()[0],
        "3_suppressed": con.execute("SELECT count(*) FROM o_supp").fetchone()[0],
    }
    rows = con.execute(f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY destination_id, date_trunc('hour', received_at)
                       ORDER BY received_at, message_id) AS rn,
                   CAST(substr(message_id, 5) AS BIGINT) AS n,
                   CAST(substr(destination_id, 5) AS BIGINT) AS j
            FROM o_jobs WHERE status = 'ok'
        )
        SELECT destination_id,
               CASE WHEN rn > cap THEN 'deferred'
                    WHEN (n * 2654435761 + j * 40503) % 100 >= fail_pct THEN 'delivered'
                    WHEN 1 + (n * 40503 + j) % {max_attempts} >= {max_attempts} THEN 'aborted'
                    ELSE 'retry' END AS outcome,
               count(*)
        FROM ranked GROUP BY ALL
    """).fetchall()
    return {"stages": stages, "outcomes": {(d, o): n for d, o, n in rows}}


def router_outcomes(con, out_dir: str) -> dict:
    rows = con.execute(f"""
        SELECT destination_id, outcome, count(*)
        FROM read_parquet('{out_dir}/*.parquet') GROUP BY ALL
    """).fetchall()
    return {(d, o): n for d, o, n in rows}


def totals_by_outcome(outcomes: dict) -> dict:
    out: dict[str, int] = {}
    for (_, outcome), n in outcomes.items():
        out[outcome] = out.get(outcome, 0) + n
    return out


STAGING_COLUMNS = (
    "{message_id: 'VARCHAR', user_id: 'BIGINT', anonymous_id: 'VARCHAR', event_type: 'VARCHAR', "
    "event_name: 'VARCHAR', record_id: 'VARCHAR', received_at: 'VARCHAR', payload: 'VARCHAR'}"
)

# table -> SQL over the staging rows `s` giving the table's primary keys
_TABLE_KEYS = {
    "tracks": "SELECT message_id FROM s WHERE event_type = 'track'",
    "order_completed": "SELECT message_id FROM s WHERE event_type = 'track' AND event_name = 'Order Completed'",
    "product_viewed": "SELECT message_id FROM s WHERE event_type = 'track' AND event_name = 'Product Viewed'",
    "cart_cleared": "SELECT message_id FROM s WHERE event_type = 'track' AND event_name = 'Cart Cleared'",
    "product_export": "SELECT record_id FROM s WHERE event_type = 'extract' AND event_name = 'Product Export'",
    "user_snapshot": "SELECT record_id FROM s WHERE event_type = 'extract' AND event_name = 'user_snapshot'",
    "identifies": "SELECT message_id FROM s WHERE event_type = 'identify'",
    "users": "SELECT user_id FROM s WHERE event_type = 'identify' AND user_id IS NOT NULL",
    "pages": "SELECT message_id FROM s WHERE event_type = 'page'",
    "screens": "SELECT message_id FROM s WHERE event_type = 'screen'",
    "groups": "SELECT message_id FROM s WHERE event_type = 'group'",
    "aliases": "SELECT message_id FROM s WHERE event_type = 'alias'",
    "rudder_identity_merge_rules": "SELECT p1t, p1v, p2t, p2v FROM rules",
    "rudder_identity_mappings": "SELECT p1t, p1v FROM rules UNION SELECT p2t, p2v FROM rules",
}


# tables every upload writes, even empty; per-event tables exist only for
# event names that occur
FIXED_TABLES = ("tracks", "identifies", "users", "pages", "screens", "groups", "aliases",
                "rudder_identity_merge_rules", "rudder_identity_mappings")


def warehouse_expected(con, paths: list[str]) -> dict[str, int]:
    """Landed rows per warehouse table after MERGE-committing the staging
    files ``paths`` in order: the distinct primary keys over all of them."""
    files = ", ".join(f"'{p}'" for p in paths)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW s AS
        SELECT * FROM read_json([{files}], format = 'newline_delimited', columns = {STAGING_COLUMNS})
    """)
    con.execute("""
        CREATE OR REPLACE TEMP VIEW rules AS
        SELECT * FROM (
            SELECT json_extract_string(payload, '$.mergeProperties[0].type') AS p1t,
                   json_extract_string(payload, '$.mergeProperties[0].value') AS p1v,
                   json_extract_string(payload, '$.mergeProperties[1].type') AS p2t,
                   json_extract_string(payload, '$.mergeProperties[1].value') AS p2v
            FROM s WHERE event_type = 'merge')
        WHERE coalesce(p1t, '') <> '' AND coalesce(p1v, '') <> ''
          AND coalesce(p2t, '') <> '' AND coalesce(p2v, '') <> ''
    """)
    counts = {t: con.execute(f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({q}))").fetchone()[0]
              for t, q in _TABLE_KEYS.items()}
    return {t: n for t, n in counts.items() if n or t in FIXED_TABLES}


# streamed tables keyed by the event's message id, and the extract tables
# keyed by record id: every generated event must land in exactly one row
STREAM_ID_TABLES = {"tracks": "track", "identifies": "identify", "pages": "page", "aliases": "alias"}
STREAM_RECORD_TABLES = {"product_export": "Product Export", "user_snapshot": "user_snapshot"}


def stream_expected(con, in_glob: str) -> dict[str, int]:
    """Distinct ids per streamed table over every generated file."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW s AS
        SELECT * FROM read_json('{in_glob}', format = 'newline_delimited', columns = {STAGING_COLUMNS})
    """)
    out = {t: con.execute(f"SELECT count(DISTINCT message_id) FROM s WHERE event_type = '{et}'").fetchone()[0]
           for t, et in STREAM_ID_TABLES.items()}
    out.update({t: con.execute(
        f"SELECT count(DISTINCT record_id) FROM s WHERE event_type = 'extract' AND event_name = '{n}'"
    ).fetchone()[0] for t, n in STREAM_RECORD_TABLES.items()})
    return out


def stream_landed(con, out_dir: str) -> dict[str, tuple[int, int]]:
    """(rows, distinct ids) per streamed table as landed by the sink."""
    import os

    out = {}
    for t in [*STREAM_ID_TABLES, *STREAM_RECORD_TABLES]:
        d = os.path.join(out_dir, t)
        if not os.path.isdir(d):
            out[t] = (0, 0)
            continue
        out[t] = con.execute(f"SELECT count(*), count(DISTINCT id) FROM read_parquet('{d}/*.parquet')").fetchone()
    return out
