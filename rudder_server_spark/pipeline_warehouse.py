"""Batch warehouse-upload pipeline: the SURVEY §3.2 lifecycle as one
composable function.

The reference's warehouse router takes an upload's staging files and
runs: staging read (slave/worker.go), primary-key dedup
(postgres/load.go:296-309 ROW_NUMBER dedup), event→table fan-out with
schema consolidation (embedded/warehouse, schema.go:294-374), per-table
delete+insert MERGE inside a transaction-scoped commit
(snowflake.go:460-520, processor.go:2835-3098), and the per-(upload,
table) completeness counts that close the upload
(state_update_table_uploads.go — A6). This module chains the repo's
operators over a directory-backed "warehouse" using load_commit's
atomic pointer-swap snapshots, so a crash between any two steps leaves
the previous versions live and a REPLAYED upload id is a no-op.

Scale: fan-out parses each payload once against registry schemas; every
table MERGE keys on its own primary key (one shuffle per table, tables
independent) and ``commit_tables`` runs them on one pool of writer
threads, so the per-table jobs overlap; the commit itself is metadata
(pointer files), never a data rewrite beyond the merged snapshot, and
the landed counts come from the new snapshots' parquet footers.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from concurrent import futures

from pyspark.sql import DataFrame, SparkSession

from rudder_server_spark.operators import constraints
from rudder_server_spark.operators.event_tables import event_table_fanout
from rudder_server_spark.operators.filters import batch_dedup
from rudder_server_spark.sources import load_commit


def run_warehouse_upload(
    spark: SparkSession,
    events: DataFrame,
    warehouse_dir: str,
    upload_id: str,
    fanout_kwargs: dict | None = None,
    destination_type: str | None = None,
) -> dict:
    """Run one §3.2 upload: dedup → fan-out → per-table atomic MERGE.

    ``events`` is an envelope+payload frame (a staging batch);
    ``warehouse_dir`` hosts one load_commit table directory per output
    table. Returns {"tables": [names], "committed": {name: bool — False
    when the upload id had already landed (idempotent replay)},
    "counts": (table_name, n) DataFrame of LANDED post-merge sizes
    (the A6 completeness check)}.

    The warehouse directory keeps its own ``_COMMITTED`` log, appended
    only after every table has committed — the upload state machine's
    terminal ``exported_data`` (state.go:14-96). A replayed id is answered
    from that log and the footers before any Spark work; an upload that
    crashed part-way is not in it, so its retry re-runs and each table's
    own log refuses the tables that already landed.
    """
    if upload_id in load_commit.committed_ids(warehouse_dir):
        names = sorted(
            t.name for t in os.scandir(warehouse_dir)
            if t.is_dir() and upload_id in load_commit.committed_ids(t.path)
        )
        committed = dict.fromkeys(names, False)
    else:
        deduped = batch_dedup(
            events, record_id="record_id" if "record_id" in events.columns else None
        )
        tables = event_table_fanout(deduped, **(fanout_kwargs or {}))

        def merge(name: str, df: DataFrame) -> bool:
            return load_commit.commit_merge(
                spark, df, os.path.join(warehouse_dir, name), upload_id,
                pk=_table_pk(name, df), order_col=_order_col(df),
            )

        committed = commit_tables(tables, merge, destination_type)
        names = sorted(committed)
        load_commit.record_commit(warehouse_dir, upload_id)
    counts = [(n, load_commit.row_count(os.path.join(warehouse_dir, n))) for n in names]
    counts_df = spark.createDataFrame(counts, "table_name string, n long")
    return {"tables": names, "committed": committed, "counts": counts_df}


def commit_tables(
    tables: Mapping[str, DataFrame],
    write: Callable[[str, DataFrame], object],
    destination_type: str | None = None,
) -> dict:
    """Write every fan-out table through ``write(name, df)`` — a load_commit
    MERGE per table for uploads, a parquet append for the streaming sink —
    on one writer pool (the reference's concurrent per-table loaders,
    warehouse/router.go). Returns {name: write's result}."""
    # index-length constraints (warehouse/constraints/constraint.go via
    # slave/worker.go:404-446): on BQ/Snowflake the identity merge-rules
    # index caps the concatenated type||value at 512 bytes — violating
    # cells swap to their ViolatedIdentifier and the originals land in
    # rudder_discards, loaded like any other table. Side dict, not item
    # assignment: tables is a lazy mapping whose deferred thunks must stay
    # unforced until their write
    overrides: dict[str, DataFrame] = {}
    if (
        destination_type in constraints.INDEX_CONSTRAINTS
        and "rudder_identity_merge_rules" in tables
    ):
        loaded, discards = constraints.apply_index_constraints(
            tables["rudder_identity_merge_rules"],
            destination_type,
            "rudder_identity_merge_rules",
        )
        overrides["rudder_identity_merge_rules"] = loaded
        # worker_job.go:592-615 only creates the discards load file when
        # discard rows exist — a zero-violation upload must not commit an
        # empty rudder_discards table (the emptiness probe is a narrow
        # filter over the small merge-rules frame, not a corpus scan)
        if "rudder_discards" in tables:
            overrides["rudder_discards"] = tables["rudder_discards"].unionByName(
                discards, allowMissingColumns=True
            )
        elif not discards.isEmpty():
            overrides["rudder_discards"] = discards
    names = list(tables)
    names += [n for n in overrides if n not in names]

    def commit(n: str):
        return write(n, overrides[n] if n in overrides else tables[n])

    # identity tables derive from their own merge-payload parse — NOT
    # the shared flattened frame — and mappings runs the connected-
    # components convergence loop (several sequential jobs: the critical
    # path). Launch them first so that loop overlaps all the
    # standard-table writes instead of queuing behind them.
    identity = sorted(
        (n for n in names if n.startswith("rudder_identity_")),
        # merge_rules first: it is the cheap consumer of the shared lazy
        # localCheckpoint of the rules frame (event_tables rules()), so
        # writing it SERIALLY forces that checkpoint exactly once before
        # mappings' CC loop and avoids the concurrent-first-touch
        # duplicate merge-payload parse.
        key=lambda n: (n != "rudder_identity_merge_rules", n),
    )
    # the first standard write runs serially too: it materializes the
    # shared flattened frame's lazy checkpoint exactly once (concurrent
    # first-touch would re-parse per thread)
    standard = [n for n in names if not n.startswith("rudder_identity_")]
    # 6 writer threads, not one per table: each write is a single-task
    # job whose submission is driver-side Python (py4j + GIL), so wide
    # pools contend on the driver lock instead of overlapping executor
    # work (interleaved A/B at bench scale: 16 workers 2.68 s min /
    # 2.7-3.9 band vs 6 workers 2.27 s / 2.27-2.37 band for the whole
    # q18 run). Enough width to overlap the CC critical path with the
    # standard tables; a cluster sink sizes this to its commit
    # concurrency, not table count.
    done, pending = {}, {}
    with futures.ThreadPoolExecutor(max_workers=6) as ex:
        for group in (identity, standard):
            if group:
                done[group[0]] = commit(group[0])
                pending.update((n, ex.submit(commit, n)) for n in group[1:])
        done.update((n, f.result()) for n, f in pending.items())
    return {n: done[n] for n in names}


def _table_pk(name: str, df: DataFrame) -> tuple:
    """MERGE key per warehouse table (snowflake.go:478-520 discriminates
    the same way: users by id, identity tables by the full rule, extract
    tables by record id, event tables by message id)."""
    cols = set(df.columns)
    if name == "users":
        return ("id",) if "id" in cols else ("user_id",)
    if name == "rudder_identity_merge_rules":
        return tuple(c for c in df.columns)
    if name == "rudder_identity_mappings":
        return ("merge_property_type", "merge_property_value")
    if "record_id" in cols:
        return ("record_id",)
    return ("id",) if "id" in cols else (df.columns[0],)


def _order_col(df: DataFrame):
    for c in ("received_at", "sent_at", "timestamp"):
        if c in df.columns:
            return c
    return df.columns[0]
