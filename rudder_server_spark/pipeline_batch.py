"""Batch-mode processor pipeline: the SURVEY §3.1 event lifecycle as one
composable function over the repo's operators.

The reference's processor consumes gateway batches and runs, in order:
in-batch + keystore dedup (processor.go:1941-1983), user suppression
(handle.go:574-602), source→destination fan-out over the workspace config
(processor.go getEnabledDestinations), consent filtering (consent.go),
and supported-message-type filtering (eventfilter/eventfilter.go — jobs
are marked `filtered`, not dropped). This module chains the same stages
— every stage a DataFrame transformation from `operators/` — so a batch
corpus flows the path a live gateway stream would, with the workspace
config supplied by `sources/config.py::load_workspace_config`.

Scale: the config frames are bounded control-plane dimensions (broadcast
joins); dedup is the only corpus-keyed shuffle; the fan-out multiplies
rows by the per-source destination count exactly like the reference's
job fan-out. Everything stays lazy — callers get DataFrames, not
side effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rudder_server_spark.operators.filters import (
    batch_dedup,
    consent_filter,
    fanout_to_destinations,
    filter_supported_types,
    suppress_users,
)

ALL_MESSAGE_TYPES = [
    "track",
    "identify",
    "page",
    "screen",
    "group",
    "alias",
    "merge",
    "extract",
]


def run_batch_pipeline(
    events: DataFrame,
    config: dict[str, DataFrame],
    suppression: DataFrame | None = None,
    source_col: str = "source_id",
    denied_col: str | None = None,
    cache_stages: bool = False,
    derive_after_dedup: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the §3.1 stage chain; returns lazy DataFrames.

    ``events`` must carry ``source_col`` plus the envelope columns
    (message_id/record_id/received_at/...) of post-gateway events: the
    gateway has already filled their message ids (P4), so dedup reads them
    as they are. ``config`` is load_workspace_config's output;
    ``suppression`` a (user_id) frame;
    ``denied_col`` names an array<string> column of denied consent
    categories when consent enforcement applies.

    Returns {"jobs": per-destination jobs with a `status` column
    ('ok'/'filtered' — reference keeps filtered jobs with status),
    "delivered": status=='ok' only, "stage_counts": one row per stage
    with surviving row counts (the A8 gateway-stats audit)}.

    ``cache_stages``: cache the deduped frame so collecting
    ``stage_counts`` AND a jobs/delivered action computes the dedup
    window once. Opt-in because an InMemoryRelation materializes every
    column, defeating column pruning for callers that only aggregate a
    few fields (a cached full-width dedup costs more than it saves on
    the q69-style count path); without it, collecting stage_counts
    re-executes the dedup lineage for the 2_deduped/3_suppressed rows
    plus once per later action.

    ``derive_after_dedup``: {column_name: Column} projections applied to
    the DEDUPED frame — the derive-late hook. Columns the later stages
    need (``source_col``, ``denied_col``) but that are pure functions of
    surviving envelope fields should be derived here, not on the input:
    the dedup window shuffles every input column, and Catalyst does not
    delay projections past an exchange, so a pre-derived array column
    rides the corpus-wide dedup shuffle for nothing. At 100 TB the
    exchange width is the cost model; derive late, shuffle narrow.
    """
    deduped = batch_dedup(events)
    for name, expr in (derive_after_dedup or {}).items():
        deduped = deduped.withColumn(name, expr)
    suppressed = (
        suppress_users(deduped, suppression) if suppression is not None else deduped
    )
    # enabled-source gate: disabled sources never reach the processor
    enabled_src = F.broadcast(
        config["sources"].where(F.col("enabled")).select(source_col)
    )
    gated = suppressed.join(enabled_src, source_col, "left_semi")
    fanned = fanout_to_destinations(gated, config["connections"], source_col=source_col)
    if denied_col is not None:
        cats = config["destinations"].select("destination_id", "consent_category_ids")
        fanned = consent_filter(
            fanned.join(F.broadcast(cats), "destination_id", "left"),
            denied_col=denied_col,
        ).drop("consent_category_ids")
    # NULL supported list = skip type filtering entirely (eventfilter.go's
    # missing-config path) — expressed directly in filter_supported_types,
    # so event types outside the known vocabulary still deliver
    type_cfg = config["destinations"].select(
        "destination_id", "supported_message_types"
    )
    jobs = filter_supported_types(fanned, dest_config=type_cfg)
    delivered = jobs.where(F.col("status") == "ok")
    # stage_counts cost shape: four jobs, not six re-executions of the
    # same lineage — fanned/jobs/delivered share ONE conditional aggregate
    # over `jobs` (filter_supported_types keeps every fan-out row, so
    # 4_fanned_out == 5_jobs by construction); cache_stages additionally
    # shares the dedup window across the stage-2/3 counts (see docstring).
    if cache_stages:
        deduped.cache()
    c_in = events.agg(F.count("*").alias("n")).select(
        F.lit("1_input").alias("stage"), "n"
    )
    c_dedup = deduped.agg(F.count("*").alias("n")).select(
        F.lit("2_deduped").alias("stage"), "n"
    )
    c_supp = suppressed.agg(F.count("*").alias("n")).select(
        F.lit("3_suppressed").alias("stage"), "n"
    )
    c_jobs = (
        jobs.agg(
            F.count("*").alias("_n_all"),
            F.count(F.when(F.col("status") == "ok", 1)).alias("_n_ok"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit("4_fanned_out").alias("stage"), F.col("_n_all").alias("n")),
                    F.struct(F.lit("5_jobs").alias("stage"), F.col("_n_all").alias("n")),
                    F.struct(F.lit("6_delivered").alias("stage"), F.col("_n_ok").alias("n")),
                )
            ).alias("s")
        )
        .select("s.stage", "s.n")
    )
    counts = c_in.unionAll(c_dedup).unionAll(c_supp).unionAll(c_jobs)
    return {"jobs": jobs, "delivered": delivered, "stage_counts": counts}
