"""Warehouse table loads + schema consolidation (reference J6/W2 + §1.3).

- Load dedup: staging rows deduped per primary key keeping the latest
  ``received_at`` (`ROW_NUMBER() OVER (PARTITION BY pk ORDER BY received_at
  DESC) = 1`, postgres/load.go:296-309, snowflake.go:478-490), then
  delete+insert into the main table (`DELETE FROM main USING staging` +
  insert, postgres/load.go:280-340; `MERGE INTO` on Snowflake).
  On parquet the dedup and the delete+insert are one window over the live
  and staging rows per key (one shuffle, Delta's copy-on-write MERGE shape);
  on Delta it would be a transactional MERGE — same logical result.
- Schema consolidation (warehouse/schema/schema.go:294-374): staging
  schemas fold left-to-right with first-type-wins per column, except
  ``text`` beats ``string``; the live warehouse schema overrides both; the
  ``users`` table's columns are forced to match ``identifies``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

# the 9-type lattice (warehouse/internal/model/schema.go:14-24)
LATTICE = ("string", "boolean", "int", "bigint", "float", "json", "text", "datetime", "array(boolean)")


def _latest_first(order_col: str | tuple) -> list:
    order = (order_col,) if isinstance(order_col, str) else tuple(order_col)
    return [F.col(c).desc() for c in order]


def dedup_staging(
    df: DataFrame, pk: tuple = ("id",), order_col: str | tuple = "received_at"
) -> DataFrame:
    """W2: keep the latest row per primary key.

    ``order_col`` may be a tuple — later columns break ties (the reference
    orders by received_at alone because its ids are unique; a deterministic
    tie-break matters when the pk recurs within one staging batch).
    """
    w = Window.partitionBy(*pk).orderBy(*_latest_first(order_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def merge_into(
    existing: DataFrame | None,
    staging: DataFrame,
    pk: tuple = ("id",),
    order_col: str | tuple = "received_at",
) -> DataFrame:
    """J6: MERGE semantics — staging rows replace same-key main rows.

    Returns the new table contents (delete-by-key + insert). ``existing``
    None means first load. The caller persists the result (overwrite on
    parquet, or this collapses to a Delta ``MERGE INTO`` at deploy time).

    One window over ``existing`` (tag 0) ∪ ``staging`` (tag 1) per key,
    staging first and latest first: a key with staging rows keeps its first
    row, a key without keeps all its live rows. That is one shuffle for the
    dedup and the delete together. A live row with a null key column never
    matches a delete (SQL equality), so it always survives, as it does
    under ``DELETE ... USING``.
    """
    if existing is None:
        return dedup_staging(staging, pk, order_col)
    w = Window.partitionBy(*pk).orderBy(F.col("_merge_tag").desc(), *_latest_first(order_col))
    null_key = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in pk])
    both = existing.withColumn("_merge_tag", F.lit(0)).unionByName(
        staging.withColumn("_merge_tag", F.lit(1)), allowMissingColumns=True
    )
    return (
        both.withColumn("_merge_rn", F.row_number().over(w))
        .withColumn("_merge_top", F.first("_merge_tag").over(w))
        .where(
            (F.col("_merge_rn") == 1)
            | ((F.col("_merge_tag") == 0) & ((F.col("_merge_top") == 0) | null_key))
        )
        .drop("_merge_tag", "_merge_rn", "_merge_top")
    )


# Per-destination column-count limits (warehouse/integrations/config/
# config.go:24-34 ColumnCountLimitMap defaults).
COLUMN_COUNT_LIMITS = {
    "azure_synapse": 1024,
    "bigquery": 10000,
    "clickhouse": 1000,
    "mssql": 1024,
    "postgres": 1600,
    "redshift": 1600,
    "s3_datalake": 10000,
}


def enforce_column_limit(
    table_schemas: dict[str, dict[str, str]],
    destination_type: str,
    limits: dict[str, int] | None = None,
) -> None:
    """Reject a staging upload whose consolidated table schema exceeds the
    destination's column budget (warehouse/slave/worker.go:318-324: the
    staging batch fails with 'schema limit exceeded' before any load file is
    written). Destinations without a configured limit are unbounded.

    Driver-side metadata check — schemas are dicts, never data."""
    lim = (limits or COLUMN_COUNT_LIMITS).get(destination_type)
    if lim is None:
        return
    for table, cols in table_schemas.items():
        if len(cols) > lim:
            raise ValueError(
                f"staging file schema limit exceeded for table {table}: "
                f"actualCount: {len(cols)}, maxAllowedCount: {lim}"
            )


def consolidate_schemas(
    staging_schemas: list[dict[str, str]],
    warehouse_schema: dict[str, str] | None = None,
) -> dict[str, str]:
    """§1.3 column-type consolidation for ONE table.

    first-type-wins across staging files in order; ``text`` upgrades
    ``string``; the live warehouse schema overrides everything
    (schema.go:294-343).
    """
    out: dict[str, str] = {}
    for sch in staging_schemas:
        for col, typ in sch.items():
            if col not in out:
                out[col] = typ
            elif out[col] == "string" and typ == "text":
                out[col] = "text"
    if warehouse_schema:
        for col, typ in warehouse_schema.items():
            if col in out:
                out[col] = typ
    return out


def consolidate_table_schemas(
    staging: list[dict[str, dict[str, str]]],
    warehouse: dict[str, dict[str, str]] | None = None,
) -> dict[str, dict[str, str]]:
    """Consolidate a full upload's ``{table: {column: type}}`` set, with the
    users←identifies column-type sync (schema.go:347-374)."""
    tables: dict[str, dict[str, str]] = {}
    names: list[str] = []
    for sch in staging:
        for t in sch:
            if t not in tables:
                tables[t] = []
                names.append(t)
            tables[t].append(sch[t])
    out = {
        t: consolidate_schemas(tables[t], (warehouse or {}).get(t)) for t in names
    }
    if "users" in out and "identifies" in out:
        ident = out["identifies"]
        out["users"] = {
            col: ident.get(col, typ) for col, typ in out["users"].items()
        }
    return out


def with_uuid_ts(df: DataFrame, ts=None) -> DataFrame:
    """Stamp the warehouse load timestamp column ``uuid_ts`` (datetime in
    every destination's default table schema, e.g. redshift.go:182) — the
    reference's integrations mark each loaded row with the load time; a
    fixed ``ts`` literal makes runs reproducible in tests."""
    col = F.lit(ts).cast("timestamp") if ts is not None else F.current_timestamp()
    return df.withColumn("uuid_ts", col)
