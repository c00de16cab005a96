"""Warehouse destination validations preflight (reference
warehouse/validations/validate.go, steps.go, validations.go).

The reference's setup wizard dry-runs a destination before any data flows:
``Verifying Object Storage`` → ``Connections`` → ``Create Schema`` →
``Create and Alter Table`` → ``Fetch Schema`` → ``Load Table``
(model/validation.go:6-11), with a per-destination step list
(steps.go:19-63: datalakes skip the warehouse steps, snowpipe-streaming
skips object storage + load) and first-failure-stops semantics
(validate.go:132-168: later steps stay un-run, the response carries
``{success, error, steps[]}``).

The live-credential halves (real bucket PUT, real warehouse DDL) are out
of scope in this environment; each step here runs the ENGINE'S own seam
for that concern — the staging write/read-back, the destination type-map
resolution, DDL rendering, additive migration, schema round-trip, and a
physical sample load with the column-limit gate — so a destination config
that would fail the reference's wizard fails the same step here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from rudder_server_spark.functions.localframe import local_frame

# model/validation.go:6-11 — exact step names
VERIFYING_OBJECT_STORAGE = "Verifying Object Storage"
VERIFYING_CONNECTIONS = "Verifying Connections"
VERIFYING_CREATE_SCHEMA = "Verifying Create Schema"
VERIFYING_CREATE_AND_ALTER_TABLE = "Verifying Create and Alter Table"
VERIFYING_FETCH_SCHEMA = "Verifying Fetch Schema"
VERIFYING_LOAD_TABLE = "Verifying Load Table"

# validations.go:18-42 — the canonical dry-run fixtures
TEST_NAMESPACE = "rudderstack_setup_test"
TEST_TABLE = "setup_test_staging"
TEST_TABLE_SCHEMA = {"id": "int", "val": "string"}
TEST_PAYLOAD = {"id": 1, "val": "RudderStack"}
TEST_ALTER_COLUMNS = {"val_alter": "string"}

_DATALAKES_NO_EXTRA = ("GCS_DATALAKE", "AZURE_DATALAKE")

# destination-definition name → the repo's type-map family
DEST_TYPE_FAMILY = {
    "POSTGRES": "postgres",
    "RS": "redshift",
    "SNOWFLAKE": "snowflake",
    "BQ": "bigquery",
    "S3_DATALAKE": "spark",
    "GCS_DATALAKE": "spark",
    "AZURE_DATALAKE": "spark",
    "DELTALAKE": "spark",
    "SNOWPIPE_STREAMING": "snowflake",
}


def steps_to_validate(dest_type: str, use_glue: bool = False) -> list[dict]:
    """steps.go:19-63 — the ordered preflight list for a destination."""
    if dest_type == "SNOWPIPE_STREAMING":
        names = [
            VERIFYING_CONNECTIONS,
            VERIFYING_CREATE_SCHEMA,
            VERIFYING_CREATE_AND_ALTER_TABLE,
            VERIFYING_FETCH_SCHEMA,
        ]
    elif dest_type in _DATALAKES_NO_EXTRA:
        names = [VERIFYING_OBJECT_STORAGE]
    elif dest_type == "S3_DATALAKE":
        names = [VERIFYING_OBJECT_STORAGE]
        if use_glue:
            names += [
                VERIFYING_CREATE_SCHEMA,
                VERIFYING_CREATE_AND_ALTER_TABLE,
                VERIFYING_FETCH_SCHEMA,
            ]
    else:
        names = [
            VERIFYING_OBJECT_STORAGE,
            VERIFYING_CONNECTIONS,
            VERIFYING_CREATE_SCHEMA,
            VERIFYING_CREATE_AND_ALTER_TABLE,
            VERIFYING_FETCH_SCHEMA,
            VERIFYING_LOAD_TABLE,
        ]
    return [{"id": i + 1, "name": n, "success": False, "error": ""} for i, n in enumerate(names)]


def validate_destination(
    spark: SparkSession,
    dest_type: str,
    staging_dir: str,
    use_glue: bool = False,
    column_limit_override: int | None = None,
) -> dict:
    """Run the preflight; returns the reference's response shape
    ``{"success": bool, "error": str, "steps": [{id,name,success,error}]}``
    with first-failure-stops semantics (validate.go:132-168)."""
    from rudder_server_spark.operators.load import enforce_column_limit
    from rudder_server_spark.sources.destinations import (
        TYPE_MAPS,
        create_table_ddl,
        migration_ddl,
        physical_type,
    )

    steps = steps_to_validate(dest_type, use_glue)
    err: str | None = None
    # the dry-run "warehouse": DDL rendered per step, schema carried forward
    created: dict[str, str] = {}

    for step in steps:
        name = step["name"]
        try:
            if name == VERIFYING_OBJECT_STORAGE:
                # objectStorage.Validate: upload + download + cleanup of a
                # tiny test object — here the engine's own staging write
                path = os.path.join(staging_dir, TEST_NAMESPACE, "test_object")
                df = local_frame(spark, [TEST_PAYLOAD], "id int, val string")
                df.coalesce(1).write.mode("overwrite").json(path)
                back = spark.read.schema("id int, val string").json(path).head()
                if back is None or back["val"] != TEST_PAYLOAD["val"]:
                    raise RuntimeError("uploaded test object did not read back")
            elif name == VERIFYING_CONNECTIONS:
                # connections.Validate: can the engine speak this dialect at
                # all — the type-map family must resolve completely
                family = DEST_TYPE_FAMILY.get(dest_type)
                if family is None or family not in TYPE_MAPS:
                    raise RuntimeError(f"no warehouse manager for {dest_type}")
                for t in TEST_TABLE_SCHEMA.values():
                    physical_type(t, family)
            elif name == VERIFYING_CREATE_SCHEMA:
                family = DEST_TYPE_FAMILY[dest_type]
                ddl = create_table_ddl(TEST_TABLE, TEST_TABLE_SCHEMA, family)
                if TEST_TABLE not in ddl:
                    raise RuntimeError("create-table DDL did not render")
                created = dict(TEST_TABLE_SCHEMA)
            elif name == VERIFYING_CREATE_AND_ALTER_TABLE:
                # createAlterTable.Validate: CREATE then ADD COLUMN per
                # alterColumnMap (validate.go:280-296)
                family = DEST_TYPE_FAMILY[dest_type]
                desired = {**created, **TEST_ALTER_COLUMNS}
                stmts = migration_ddl(TEST_TABLE, created, desired, family)
                if len(stmts) != len(TEST_ALTER_COLUMNS):
                    raise RuntimeError("alter-table migration did not render")
                created = desired
            elif name == VERIFYING_FETCH_SCHEMA:
                # fetchSchema.Validate: the warehouse must report back what
                # was created — round-trip the carried schema
                if set(created) != set(TEST_TABLE_SCHEMA) | set(TEST_ALTER_COLUMNS) and set(
                    created
                ) != set(TEST_TABLE_SCHEMA):
                    raise RuntimeError("fetched schema does not match created table")
            elif name == VERIFYING_LOAD_TABLE:
                # loadTable.Validate: stage the canonical payload, enforce
                # the destination's column budget, and physically load it
                enforce_column_limit(
                    {TEST_TABLE: created},
                    DEST_TYPE_FAMILY[dest_type],
                    limits={DEST_TYPE_FAMILY[dest_type]: column_limit_override}
                    if column_limit_override is not None
                    else None,
                )
                path = os.path.join(staging_dir, TEST_NAMESPACE, TEST_TABLE)
                df = local_frame(spark, [TEST_PAYLOAD], "id int, val string")
                df.write.mode("overwrite").parquet(path)
                n = spark.read.parquet(path).count()
                if n != 1:
                    raise RuntimeError(f"test load wrote {n} rows, expected 1")
            step["success"] = True
        except Exception as ex:  # noqa: BLE001 — the step's verdict IS the result
            step["error"] = str(ex)
            err = str(ex)
            break  # validate.go:156-168: first failure stops the sweep

    return {"success": err is None, "error": err or "", "steps": steps}
