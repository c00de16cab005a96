"""Event → warehouse-table fan-out (reference P8).

One incoming event produces rows in several relational tables
(embedded/warehouse/events.go:17-638, transformer.go:85-160; expected
shapes in FIXTURES.md §3):

- ``track``    → ``tracks`` + one ``<snake_cased_event_name>`` table
- ``identify`` → ``identifies`` + ``users`` (latest non-null traits)
- ``page``     → ``pages``; ``screen`` → ``screens``; ``group`` → ``groups``
- ``alias``    → ``aliases``
- ``merge``    → ``rudder_identity_merge_rules`` +
                 ``rudder_identity_mappings`` (connected components, J4)
- ``extract``  → one ``<snake_cased_event>`` table keyed by record_id
                 (retl record stream; events.go:166-243, ExtractRules)

``EVENT_TABLES`` maps each event type to its fixed table, and
``table_key`` states every table's MERGE key and order (J6) — the one
place that decides a table's grain — plus the users load's fold of its
live rows into the whole new table (J3).

Spark-first shape: ONE schema discovery and ONE promotion vote over the
batch, then each output table is a filter + a ``from_json`` projection of
only its own fields (a per-table sub-schema, so the parser skips every
other key). The input is preprocessed where events enter
(``normalize_envelope``, then F1 dedup in the pipelines); the fan-out
neither normalizes nor dedups, and materializes nothing itself: a caller
that writes every table (``run_warehouse_upload``, the streaming
``warehouse_sink``) hands it a batch it has already materialized once, so
each table reads those blocks instead of re-running the staging scan and
dedup. The
per-event-name table set is driver-side metadata (bounded by schema
cardinality, same as the reference's physical table-per-event design).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F
from rudder_server_spark.functions.localframe import local_frame


class _LazyTables(Mapping):
    """Mapping of table name → DataFrame where some entries build on first
    access (those whose CONSTRUCTION runs Spark jobs, e.g. the iterative
    identity resolution), and whose KEY SET may itself be partly discovered
    on demand (the per-event tables: listing them runs a distinct scan —
    callers that only touch fixed tables like ``tracks`` never pay it)."""

    def __init__(self, ready: dict, deferred: dict, discover=None):
        self._ready = ready
        self._deferred = deferred
        self._discover = discover  # () -> dict of extra deferred entries

    def _discover_now(self):
        if self._discover is not None:
            extra, self._discover = self._discover(), None
            for k, thunk in extra.items():
                self._deferred.setdefault(k, thunk)

    def __getitem__(self, key):
        if key not in self._ready:
            if key not in self._deferred:
                self._discover_now()
            self._ready[key] = self._deferred[key]()
        return self._ready[key]

    def __contains__(self, key):
        if key in self._ready or key in self._deferred:
            return True
        self._discover_now()
        return key in self._deferred

    def __iter__(self):
        self._discover_now()
        # snapshot: __getitem__ during iteration (Mapping.items) moves
        # deferred entries into _ready
        keys = list(self._ready) + [k for k in self._deferred if k not in self._ready]
        return iter(keys)

    def __len__(self):
        return sum(1 for _ in self)

from rudder_server_spark.functions.names import safe_table_name
from rudder_server_spark.operators.flatten import (
    discover_group_schemas,
    discover_promotions,
    flatten_events,
    string_like_collapsed,
)
from rudder_server_spark.operators.identity import connected_components

ENVELOPE_COLS = (
    "message_id",
    "user_id",
    "anonymous_id",
    "event_type",
    "event_name",
    "record_id",
    "received_at",
    "sent_at",
    "original_timestamp",
    "timestamp",
    "rudder_id",
)

# rules-frame rows at or under which rudder_identity_mappings is built on
# the driver (_mappings_driver_side); over it, connected_components runs
MAPPINGS_DRIVER_ROWS = 2000

# distinct raw (event_type, event_name) pairs the per-event table discovery
# collects to the driver; more raises instead of fanning out that many tables
MAX_EVENT_TABLES = 10_000

# event type → its fixed table (events.go); track and extract rows also
# land in one table per event name
EVENT_TABLES = {
    "track": "tracks", "identify": "identifies", "page": "pages",
    "screen": "screens", "group": "groups", "alias": "aliases",
}

_RULE_COLS = (
    "merge_property_1_type",
    "merge_property_1_value",
    "merge_property_2_type",
    "merge_property_2_value",
)


class TableKey(NamedTuple):
    """A warehouse table's MERGE key, the column whose latest value wins
    among staging rows that share it, and, for a table whose load folds
    its live rows in, ``fold(live or None, staging)`` → the whole new
    table, committed as an overwrite instead of a MERGE."""

    pk: tuple
    order_col: str
    fold: Callable | None = None


def _latest_traits(df: DataFrame, key: Column, traits) -> DataFrame:
    """One row per ``key``: the latest ``received_at`` and, for each
    (column, name) of ``traits``, the column's latest non-null value — the
    aggregation rewrite of FIRST_VALUE IGNORE NULLS (SURVEY §4.6): a single
    partial-agg shuffle instead of a full window sort."""
    return df.groupBy(key).agg(
        F.max("received_at").alias("received_at"),
        *[
            F.max_by(c, F.when(F.col(c).isNotNull(), F.col("received_at"))).alias(short)
            for c, short in traits
        ],
    )


def _fold_users(live: DataFrame | None, staging: DataFrame) -> DataFrame:
    """The users load (J3, redshift.go:859-944, snowflake.go:920-1000): the
    live rows fold with the upload's into the whole new table, so a trait
    the upload does not carry keeps its live value and a user the upload
    does not carry keeps its row. A live row counts as one event at its
    ``received_at``, as in the reference. One aggregate, one shuffle."""
    if live is None:
        return staging
    both = live.unionByName(staging, allowMissingColumns=True)
    traits = [(c, c) for c in both.columns if c not in ("id", "received_at")]
    return _latest_traits(both, F.col("id"), traits)


# J6 delete+insert runs on each table's own key (snowflake.go:478-520):
# identity rules on the whole rule, mappings on the identifier, discards on
# the row id. Every other table — the event-type tables, the per-event and
# extract tables — keys on ``id``; ``users`` too, after its fold.
_TABLE_KEYS = {
    "users": TableKey(("id",), "received_at", _fold_users),
    "rudder_identity_merge_rules": TableKey(_RULE_COLS, _RULE_COLS[0]),
    "rudder_identity_mappings": TableKey(
        ("merge_property_type", "merge_property_value"), "merge_property_type"
    ),
    "rudder_discards": TableKey(("row_id",), "received_at"),
}
_ID_KEY = TableKey(("id",), "received_at")


def table_key(name: str) -> TableKey:
    """The MERGE key and order of warehouse table ``name``."""
    return _TABLE_KEYS.get(name, _ID_KEY)

_COMMON = [
    "user_id",
    "anonymous_id",
    "received_at",
    "sent_at",
    "original_timestamp",
    "timestamp",
]


def snake_expr(c: Column) -> Column:
    """Column-level snake_case for event names ('Order Completed' →
    'order_completed'); the driver-side twin of functions.names.snake_case."""
    return F.lower(F.regexp_replace(F.regexp_replace(F.trim(c), "[^a-zA-Z0-9]+", "_"), "^_+|_+$", ""))


def _group_cols(schema, group: str) -> list[str]:
    return [name for name, path, _ in schema if path[0] == group]


def _unprefixed(cols, prefix: str, taken: set, *, drop: bool) -> list:
    """(column, output name) pairs: each column loses ``prefix`` unless
    the short name is ``taken``; a taken one keeps its prefixed name, or
    is left out with ``drop``."""
    out = []
    for c in cols:
        short = c[len(prefix) :] if c.startswith(prefix) else c
        if short not in taken:
            out.append((c, short))
        elif not drop:
            out.append((c, c))
    return out


def discover_fanout_schemas(df: DataFrame, payload_col: str = "payload") -> dict:
    """The fan-out's per-table schema consolidation (one scan — see
    event_table_fanout). Cacheable by the caller: schemas evolve with the
    corpus, not per query, so engines persist them (the reference's
    wh_schemas table) instead of re-deriving per read."""
    et = F.col("event_type")
    return discover_group_schemas(
        df,
        [
            ("ctx", "context", None),
            ("track_props", "properties", et == "track"),
            ("track_uprops", "userProperties", et == "track"),
            ("page_props", "properties", et == "page"),
            ("screen_props", "properties", et == "screen"),
            ("extract_props", "properties", et == "extract"),
            ("traits", "traits", et == "identify"),
            ("group_traits", "traits", et == "group"),
        ],
        payload_col,
    )


def fanout_flat_schema(per_alias: dict) -> list:
    """Merge the per-alias discovered schemas into the single shared
    projection list (first-type-wins on name conflicts, the reference's
    consolidation rule), plus the top-level scalar fields pages/aliases
    need. Deterministic given ``per_alias`` — safe to persist."""
    schema, seen = [], set()
    for key in (
        "ctx",
        "track_props",
        "track_uprops",
        "traits",
        "page_props",
        "screen_props",
        "extract_props",
        "group_traits",
    ):
        for name, path, tgt in per_alias.get(key, []):
            if name not in seen:
                seen.add(name)
                schema.append((name, list(path), tgt))
    schema.append(("_evt_name", ["name"], "string"))
    schema.append(("_evt_previous_id", ["previousId"], "string"))
    schema.append(("_evt_group_id", ["groupId"], "string"))
    return schema


def identity_merge_rules(
    df: DataFrame,
    payload_col: str = "payload",
    sources: tuple = ("merge", "alias", "default"),
) -> DataFrame:
    """Identity merge-rule extraction, per event type (idresolution.go:74-141):

    - ``merge`` events: the explicit ``mergeProperties`` pair; rejected when
      any of the four fields is empty (mergePropsForMergeEventType).
    - ``alias`` events: ``(user_id: userId) ~ (user_id: previousId)``
      (mergePropsForAliasEventType); prop2 omitted when previousId is empty.
    - every other fanned-out type (track/identify/page/screen/group):
      ``(anonymous_id: anonymousId) ~ (user_id: userId)`` — prop1 falls back
      to user_id when anonymousId is empty, prop2 omitted when either is
      empty (mergePropsForDefaultEventType); rows with neither are dropped.

    Single-property rules carry NULL prop2 columns, exactly like the
    reference's merge-rule rows with ``mergeProp2`` absent. Output columns:
    the four merge_property columns + received_at (for mappings'
    updated_at). All narrow codegen'd projections; the merge parse is
    predicate-pushed to merge rows only.
    """
    et = F.col("event_type")
    ne = lambda c: c.isNotNull() & (c != F.lit(""))  # noqa: E731
    parts = []
    if "merge" in sources:
        m = df.where(et == "merge").select(
            F.from_json(
                F.col(payload_col),
                "mergeProperties array<struct<type:string,value:string>>",
            ).alias("_m"),
            "received_at",
        ).select(
            F.element_at("_m.mergeProperties", 1).getField("type").alias("merge_property_1_type"),
            F.element_at("_m.mergeProperties", 1).getField("value").alias("merge_property_1_value"),
            F.element_at("_m.mergeProperties", 2).getField("type").alias("merge_property_2_type"),
            F.element_at("_m.mergeProperties", 2).getField("value").alias("merge_property_2_value"),
            "received_at",
        )
        parts.append(
            m.where(
                ne(F.col("merge_property_1_type")) & ne(F.col("merge_property_1_value"))
                & ne(F.col("merge_property_2_type")) & ne(F.col("merge_property_2_value"))
            )
        )
    if "alias" in sources:
        uid = F.col("user_id").cast("string")
        prev = F.get_json_object(F.col(payload_col), "$.previousId")
        parts.append(
            df.where(et == "alias")
            .where(ne(uid))
            .select(
                F.lit("user_id").alias("merge_property_1_type"),
                uid.alias("merge_property_1_value"),
                F.when(ne(prev), F.lit("user_id")).alias("merge_property_2_type"),
                F.when(ne(prev), prev).alias("merge_property_2_value"),
                "received_at",
            )
        )
    if "default" in sources:
        anon = F.col("anonymous_id").cast("string")
        uid = F.col("user_id").cast("string")
        both = ne(anon) & ne(uid)
        parts.append(
            df.where(et.isin("track", "identify", "page", "screen", "group"))
            .where(ne(anon) | ne(uid))
            .select(
                F.when(ne(anon), F.lit("anonymous_id")).otherwise(F.lit("user_id"))
                .alias("merge_property_1_type"),
                F.when(ne(anon), anon).otherwise(uid).alias("merge_property_1_value"),
                F.when(both, F.lit("user_id")).alias("merge_property_2_type"),
                F.when(both, uid).alias("merge_property_2_value"),
                "received_at",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _mappings_idents(r: DataFrame) -> DataFrame:
    """The mappings grain: one row per (merge_property_type, value) with
    the latest received_at — single-property rules (NULL prop2) contribute
    prop1 only (idresolution.go mappings upsert)."""
    return (
        r.select(
            F.col("merge_property_1_type").alias("merge_property_type"),
            F.col("merge_property_1_value").alias("merge_property_value"),
            "received_at",
        )
        .unionByName(
            r.where(F.col("merge_property_2_value").isNotNull()).select(
                F.col("merge_property_2_type").alias("merge_property_type"),
                F.col("merge_property_2_value").alias("merge_property_value"),
                "received_at",
            )
        )
        .groupBy("merge_property_type", "merge_property_value")
        .agg(F.max("received_at").alias("updated_at"))
    )


def _mappings_driver_side(spark, rule_rows) -> DataFrame:
    """The full mappings table from at most ``MAPPINGS_DRIVER_ROWS``
    collected rule rows: Python union-find for the component labels plus
    the idents latest-received_at fold — semantics identical to
    ``_mappings_idents`` + the CC join-back (byte-identical labels: same
    union-find kernel, and UTF-8 byte order == code-point order so the
    min-identifier election matches Spark's string ordering)."""
    from rudder_server_spark.operators.identity import LAST_RUN, _union_find

    edges = [
        (row[1], row[3])
        for row in rule_rows
        if row[1] is not None and row[3] is not None and row[1] != row[3]
    ]
    labels = dict(_union_find(edges))
    LAST_RUN["path"] = "driver"
    LAST_RUN["iterations"] = 0
    latest: dict = {}  # (type, value) -> max received_at, NULLs ignored
    for p1t, p1v, p2t, p2v, recv in rule_rows:
        for t, v in ((p1t, p1v),) + (((p2t, p2v),) if p2v is not None else ()):
            if (t, v) not in latest:
                latest[(t, v)] = recv
            elif recv is not None and (
                latest[(t, v)] is None or recv > latest[(t, v)]
            ):
                latest[(t, v)] = recv
    out = [
        (
            t,
            v,
            labels.get(v, v) if v is not None else None,
            ts,
        )
        for (t, v), ts in latest.items()
    ]
    # local_frame, not plain createDataFrame: an Arrow LocalRelation, so
    # the mappings write scans it in the JVM instead of waiting on a
    # Python worker per slice (functions/localframe.py)
    return local_frame(
        spark,
        out,
        "merge_property_type string, merge_property_value string, "
        "rudder_id string, updated_at timestamp",
    )


def event_table_fanout(
    df: DataFrame,
    payload_col: str = "payload",
    schemas: dict | None = None,
    promote: set | None = None,
) -> dict[str, DataFrame]:
    """Fan an envelope+payload event frame out into warehouse tables.

    Returns ``{table_name: DataFrame}``. ``df`` is a preprocessed frame:
    the envelope columns of FIXTURES.md §2 (message_id, user_id,
    anonymous_id, event_type, event_name, received_at, sent_at,
    original_timestamp) already stamped by ``normalize_envelope`` (P2-P4:
    filled message ids, ``rudder_id``, ``timestamp``), plus a JSON
    ``payload`` column. The fan-out does not normalize again: ids are
    filled once, before dedup, where events enter. Pass ``schemas`` (from
    :func:`discover_fanout_schemas`) to reuse a cached consolidation.
    Every table's plan reads ``df`` again, so a caller that writes many
    tables materializes ``df`` first (a ``localCheckpoint``).
    """
    keep = [c for c in ENVELOPE_COLS if c in df.columns]

    # Per-table schema consolidation, as the reference does per staging batch
    # (warehouse/schema/schema.go:294-343): context is shared across all
    # event types; properties/userProperties consolidate over track rows,
    # page properties over page rows, traits over identify rows — all five
    # aliases discovered in ONE scan/parse via filtered aggregates.
    per_alias = schemas if schemas is not None else discover_fanout_schemas(df, payload_col)
    ctx_schema = per_alias["ctx"]
    track_schema = list(per_alias["track_props"]) + list(per_alias["track_uprops"])
    extract_schema = per_alias.get("extract_props", [])
    traits_schema = per_alias["traits"]
    # single shared projection (first-wins consolidation) + the top-level
    # scalar payload fields pages/aliases need, riding the SAME from_json
    # parse (one JSON walk per row total)
    schema = fanout_flat_schema(per_alias)
    seen = {name for name, _, _ in schema}

    # timestamp-promotion verdicts are corpus-level state, like the schema:
    # decided ONCE over the merged schema, here (one Spark job over the
    # batch). Leaving promote=None down in flatten_events would make every
    # flat_for call re-run discover_promotions, one job per table.
    if promote is None:
        promote = discover_promotions(df, schema, payload_col)

    # each table parses ONLY its own fields. Catalyst cannot prune a shared
    # from_json for us — the parsed struct is referenced once per leaf
    # column, so CollapseProject refuses to inline the expensive parse and
    # the full schema would be decoded for every table. Hand the projection
    # a per-table sub-schema instead; at 100 TB this is the difference
    # between decoding every JSON key of every event and decoding the 5
    # context keys `tracks` needs.
    def flat_for(names) -> DataFrame:
        sub = [e for e in schema if e[0] in names]
        return flatten_events(
            df, payload_col=payload_col, keep_cols=tuple(keep), schema=sub,
            promote=promote,
        )

    # string-like collapse (set.go:30-31): when flatten_events will synthesize
    # a collapsed context column (e.g. context_traits from context_traits_0..n),
    # the fan-out tables must select it too — the reference writes the joined
    # string to the context_traits column. The indexed source columns stay in
    # ctx_cols as well (non-qualifying rows keep their values there).
    ctx_collapsed = [
        name for name, parts in string_like_collapsed(schema).items() if parts[0] == "context"
    ]
    ctx_cols = _group_cols(ctx_schema, "context") + ctx_collapsed
    prop_cols = [n for n, p, _ in track_schema if p[0] == "properties" and n in seen]
    uprop_cols = _group_cols(track_schema, "userProperties")
    trait_cols = _group_cols(traits_schema, "traits")

    common = [F.col("message_id").alias("id")] + [F.col(c) for c in _COMMON]

    # Every table below is a DEFERRED thunk: building a table's DataFrame
    # costs real driver/Catalyst time (wide from_json expression trees,
    # analysis round-trips), so a caller touching only `tracks` (the q16
    # projection) pays for exactly one table's plan, not ten.
    deferred: dict = {}

    # ---- tracks + per-event tables ------------------------------------
    track_common = common + [
        F.col("event_name").alias("event_text"),
        snake_expr(F.col("event_name")).alias("event"),
        *[F.col(c) for c in ctx_cols],
    ]
    deferred[EVENT_TABLES["track"]] = lambda: (
        flat_for(set(ctx_cols)).where(F.col("event_type") == "track").select(*track_common)
    )

    # a property or trait column drops its group prefix unless the short
    # name is taken: the event tables keep the prefixed name, while pages,
    # screens and groups (below) leave the column out
    taken = {"id", "event", "event_text", *_COMMON, *ctx_cols}
    unprefixed = _unprefixed(prop_cols, "properties_", taken, drop=False) + _unprefixed(
        uprop_cols, "user_properties_", taken, drop=False
    )

    # the per-event table set is schema metadata: small, driver-side — but
    # LISTING it runs a distinct scan, so it is discovered lazily on first
    # iteration/miss (callers that only touch fixed tables — the q16 tracks
    # projection — never pay that job). Names are read from the envelope
    # columns, not a flattened frame, so listing them parses no payload.
    # extract (retl/warehouse-as-source, embedded/warehouse/events.go:166-243
    # + rules.go ExtractRules): each extract event lands ONLY in the table
    # named by its event, keyed by record_id (the metadata sidecar,
    # processor.go:1079-1083) with delete+insert load semantics — modeled
    # here as W2 staging dedup (latest received_at per record_id), the same
    # post-load state the `users` table models. Columns: id=record_id,
    # received_at, event, context_* and unprefixed properties; no user_id
    # (events.go extractOutput sets userId "").
    ex_prop_cols = [n for n, p, _ in extract_schema if p[0] == "properties" and n in seen]
    ex_unprefixed = _unprefixed(ex_prop_cols, "properties_", taken, drop=False)
    has_record_id = "record_id" in df.columns

    def make_extract(evs):
        def build():
            from pyspark.sql import Window

            base = (
                flat_for(set(ctx_cols) | {c for c, _ in ex_unprefixed})
                .where(F.col("event_type") == "extract")
                .where(F.col("event_name").isin(evs))
                .where(F.col("record_id").isNotNull())
            )
            w = Window.partitionBy("record_id").orderBy(
                F.col("received_at").desc(), F.col("message_id").desc()
            )
            return (
                base.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(
                    F.col("record_id").alias("id"),
                    F.col("received_at"),
                    snake_expr(F.col("event_name")).alias("event"),
                    *[F.col(c) for c in ctx_cols],
                    *[F.col(c).alias(short) for c, short in ex_unprefixed],
                )
            )

        return build

    def _discover_event_tables() -> dict:
        types = ["track", "extract"] if has_record_id else ["track"]
        # LIMIT cap+1 bounds the driver collect BY CONSTRUCTION: a rogue
        # source emitting per-event unique names (uuid event_name) would
        # otherwise OOM the driver here and fan out a million tables — the
        # reference's per-event-name table model has the same hazard and
        # callers are expected to cap it (VERDICT r3 #3)
        name_rows = (
            df.where(F.col("event_type").isin(types))
            .select("event_type", "event_name")
            .distinct()
            .limit(MAX_EVENT_TABLES + 1)
            .collect()
        )
        if len(name_rows) > MAX_EVENT_TABLES:
            raise ValueError(
                f"event-table discovery found more than MAX_EVENT_TABLES="
                f"{MAX_EVENT_TABLES} distinct RAW (event_type, event_name) "
                "pairs — counted BEFORE snake_case normalization, since the "
                "cap bounds this driver collect, so many raw spellings that "
                "collapse to fewer physical tables still count individually. "
                "A rogue source is likely emitting unique event names; raise "
                "event_tables.MAX_EVENT_TABLES consciously or pre-filter/quarantine the "
                "offending source before fan-out"
            )
        # two raw names can normalize to the same table ('Order Completed'
        # and 'order_completed' both land in order_completed — the reference
        # keys the physical table by the snake_cased name), so group names
        # per table and union them via IN instead of last-wins overwriting
        by_table: dict[str, list] = {}
        ex_by_table: dict[str, list] = {}
        named = [r for r in name_rows if r["event_name"] is not None]
        for r in sorted(named, key=lambda r: (r["event_type"], r["event_name"])):
            tbl = safe_table_name(r["event_name"].strip().replace(" ", "_").lower())
            tgt = by_table if r["event_type"] == "track" else ex_by_table
            tgt.setdefault(tbl, []).append(r["event_name"])

        def make(evs):
            return lambda: (
                flat_for(set(ctx_cols) | {c for c, _ in unprefixed})
                .where(F.col("event_type") == "track")
                .where(F.col("event_name").isin(evs))
                .select(*track_common, *[F.col(c).alias(short) for c, short in unprefixed])
            )

        out = {tbl: make(evs) for tbl, evs in sorted(by_table.items())}
        out.update({tbl: make_extract(evs) for tbl, evs in sorted(ex_by_table.items())})
        return out

    # ---- identifies + users -------------------------------------------
    trait_renames = _unprefixed(trait_cols, "traits_", taken, drop=False)
    deferred[EVENT_TABLES["identify"]] = lambda: (
        flat_for(set(ctx_cols) | set(trait_cols))
        .where(F.col("event_type") == "identify")
        .select(
            *common, *[F.col(c) for c in ctx_cols],
            *[F.col(c).alias(short) for c, short in trait_renames],
        )
    )
    # users: one row per user, latest non-null value per trait
    deferred["users"] = lambda: _latest_traits(
        flat_for(set(trait_cols))
        .where(F.col("event_type") == "identify")
        .where(F.col("user_id").isNotNull()),
        F.col("user_id").alias("id"),
        trait_renames,
    )

    # ---- pages, screens, groups (events.go: page/screen symmetric; group
    # traits keyed by groupId) --------------------------------------------
    def make_named(etype, field, name, own, renames):
        return lambda: (
            flat_for(set(ctx_cols) | set(own) | {field})
            .where(F.col("event_type") == etype)
            .select(
                *common,
                F.col(field).alias(name),
                *[F.col(c) for c in ctx_cols],
                *[F.col(c).alias(short) for c, short in renames],
            )
        )

    for etype, alias, group, field, name in (
        ("page", "page_props", "properties", "_evt_name", "name"),
        ("screen", "screen_props", "properties", "_evt_name", "name"),
        ("group", "group_traits", "traits", "_evt_group_id", "group_id"),
    ):
        own = _group_cols(per_alias.get(alias, []), group)
        renames = _unprefixed(own, group + "_", taken | {name}, drop=True)
        deferred[EVENT_TABLES[etype]] = make_named(etype, field, name, own, renames)

    # ---- aliases -------------------------------------------------------
    deferred[EVENT_TABLES["alias"]] = lambda: (
        flat_for({"_evt_previous_id"})
        .where(F.col("event_type") == "alias")
        .select(*common, F.col("_evt_previous_id").alias("previous_id"))
    )

    # ---- identity tables ----------------------------------------------
    # sources=("merge",): the explicit-rule subset (the other sources are a
    # config toggle in the reference — enableIDResolution plus
    # per-destination IsIdentityEnabled, idresolution.go:15-21). Each
    # consumer (the merge_rules table, the mappings collect or CC edge set,
    # the idents aggregate) re-parses only the merge rows' two properties.
    rules = identity_merge_rules(df, payload_col, ("merge",))

    deferred["rudder_identity_merge_rules"] = lambda: rules.drop("received_at").distinct()

    def _mappings() -> DataFrame:
        # connected_components runs Spark jobs in its convergence loop, so
        # the mappings table is built lazily — callers that only want
        # tracks/identifies never pay for identity resolution
        edges = rules.select(
            F.col("merge_property_1_value").alias("src"),
            F.col("merge_property_2_value").alias("dst"),
        )
        # the rules frame's size picks the path: ONE capped collect of it,
        # and at or under the cap the WHOLE table assembles driver-side —
        # union-find labels AND the idents max-received_at fold run in
        # Python, so no idents exchange and no CC jobs run (BASELINE.md
        # q18 decomposition). Output is byte-identical to the distributed
        # join path (parity-pinned); a larger graph pays the capped collect
        # and then takes that path.
        capped = rules.select(*_RULE_COLS, "received_at").limit(
            MAPPINGS_DRIVER_ROWS + 1
        ).collect()
        if len(capped) <= MAPPINGS_DRIVER_ROWS:
            return _mappings_driver_side(df.sparkSession, capped)
        comps = connected_components(edges)
        idents = _mappings_idents(rules)
        return idents.join(
            comps, idents.merge_property_value == comps.identifier, "left"
        ).select(
            "merge_property_type",
            "merge_property_value",
            F.coalesce("component", "merge_property_value").alias("rudder_id"),
            "updated_at",
        )

    deferred["rudder_identity_mappings"] = _mappings
    return _LazyTables({}, deferred, discover=_discover_event_tables)


def table_name_expr(name: Column) -> Column:
    """SQL twin of ``safe_table_name(name.strip().replace(" ", "_").lower())``
    — the normalization the fan-out's discovery applies to event names.
    Because the input is lowercased first, the camelCase splits are no-ops,
    so the remaining pipeline is exactly expressible in codegen'd string
    functions (keeps counts computable without a driver-side collect).
    """
    from rudder_server_spark.functions.names import RESERVED

    s = F.lower(F.trim(name))
    s = F.regexp_replace(s, "[^a-z0-9_]+", "_")
    s = F.regexp_replace(s, "_+", "_")
    s = F.regexp_replace(s, "(^_+)|(_+$)", "")
    s = F.when(s == "", "_").otherwise(s)
    s = F.when(s.rlike("^[0-9]"), F.concat(F.lit("_"), s)).otherwise(s)
    s = F.when(s.isin(*sorted(RESERVED)), F.concat(F.lit("_"), s)).otherwise(s)
    return F.substring(s, 1, 127)


def fanout_table_counts(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Row count per fan-out output table, in ONE Spark action.

    The reference verifies load completeness by counting events per
    (upload, table) — A6, warehouse/router/state_update_table_uploads.go —
    rather than by scanning each landed table. Same idea here: counting the
    fan-out's outputs via ``event_table_fanout`` would scan the corpus once
    per table (and build the identity mapping's connected components just to
    count its rows). Instead the whole result is ONE lazy plan:

    - a corpus-reducing pre-aggregate on (event_type, event_name, uid,
      rid) — uid kept only on identify rows, rid only on extract rows, so
      its output is ~(#event names + #identify users + #extract records)
      rows — followed by a GROUPING SETS aggregate over that tiny frame:
      the detail grain (event_type, event_name) carries the per-event
      tables, and the (event_type) subtotal grain carries the envelope
      tables plus the global ``users`` count_distinct. The pre-aggregate
      matters because Spark plans mixed DISTINCT + plain aggregates with
      an Expand that multiplies every input row by the distinct-group
      count (x3 here, on top of the grouping-set x2) — pre-reducing moves
      that Expand off the corpus onto the bounded group set (measured
      ~2x at sf0.1). Name→table normalization (table_name_expr) likewise
      runs AFTER aggregation, and raw names that normalize to the same
      table merge in the final per-table sum; no driver-side event-name
      discovery anywhere
    - one small payload-parsing subtree over merge rows only (predicate
      pushed to the scan; the fixture clusters by event_type so row-group
      pruning skips everything else) computes BOTH identity-table counts
      from a single exploded pass
    - a static zero-count seed keeps empty standard tables present

    No collect anywhere → the driver schedules one job and the three
    subtrees overlap; at 100 TB this is one column-pruned pass + one
    merge-rows pass instead of a dozen full-corpus scans.

    Returns a DataFrame ``(table_name, n)`` ordered by table_name, matching
    ``{name: t.count() for name, t in event_table_fanout(df).items()}``.
    """
    spark = df.sparkSession
    et = F.col("event_type")
    has_record_id = "record_id" in df.columns
    event_types = ["track", "extract"] if has_record_id else ["track"]

    uid = F.when(et == "identify", F.col("user_id"))
    rid = (
        F.when(et == "extract", F.col("record_id"))
        if has_record_id
        else F.lit(None).cast("string")
    )
    base = (
        df.select(
            "event_type",
            # event_name only feeds per-event tables (track/extract)
            F.when(et.isin(event_types), F.col("event_name")).alias("event_name"),
            uid.alias("_uid"),
            rid.alias("_rid"),
        )
        .groupBy("event_type", "event_name", "_uid", "_rid")
        .agg(F.count("*").alias("cnt"))
    )
    g = (
        base.groupingSets(
            [["event_type", "event_name"], ["event_type"]],
            "event_type",
            "event_name",
        )
        .agg(
            F.grouping("event_name").alias("_sub"),
            F.sum("cnt").alias("n"),
            F.count_distinct("_uid").alias("nu"),
            F.count_distinct("_rid").alias("nr"),
        )
        .withColumn(
            "_tbl",
            F.when(
                et.isin(event_types) & F.col("event_name").isNotNull(),
                table_name_expr(F.col("event_name")),
            ),
        )
    )
    plural = F.element_at(
        F.create_map(*[F.lit(x) for kv in EVENT_TABLES.items() for x in kv]), et
    )
    pair = lambda t, n: F.struct(  # noqa: E731
        t.alias("table_name"), n.cast("bigint").alias("n")
    )
    nothing = F.lit(None).cast("struct<table_name:string,n:bigint>")
    counts = (
        g.select(
            F.explode(
                F.array(
                    # (event_type) subtotal grain → envelope tables + users
                    F.when(F.col("_sub") == 1, pair(plural, F.col("n"))).otherwise(nothing),
                    F.when(
                        (F.col("_sub") == 1) & (et == "identify"),
                        pair(F.lit("users"), F.col("nu")),
                    ).otherwise(nothing),
                    # detail grain → per-event / extract tables (extract
                    # counts distinct record_id: landed size after the
                    # recordId-keyed delete+insert dedup)
                    F.when(
                        (F.col("_sub") == 0) & (et == "track") & F.col("_tbl").isNotNull(),
                        pair(F.col("_tbl"), F.col("n")),
                    ).otherwise(nothing),
                    F.when(
                        (F.col("_sub") == 0) & (et == "extract") & F.col("_tbl").isNotNull(),
                        pair(F.col("_tbl"), F.col("nr")),
                    ).otherwise(nothing),
                )
            ).alias("row")
        )
        .where(F.col("row.table_name").isNotNull())
        .select("row.*")
    )

    # identity tables: parse only the two merge properties of merge rows,
    # ONCE; each exploded element carries the full rule (for the rules
    # count) on its first slot only, and its own property (for the mappings
    # count) — one scan, one aggregate, both distinct counts.
    mp = F.from_json(
        F.col(payload_col), "mergeProperties array<struct<type:string,value:string>>"
    )["mergeProperties"]
    p = lambda i: F.struct(  # noqa: E731
        F.element_at("_m", i)["type"].alias("t"), F.element_at("_m", i)["value"].alias("v")
    )
    no_rule = F.lit(None).cast(
        "struct<p1:struct<t:string,v:string>,p2:struct<t:string,v:string>>"
    )
    identity_counts = (
        df.where(et == "merge")
        .select(mp.alias("_m"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.struct(p(1).alias("p1"), p(2).alias("p2")).alias("rule"),
                        p(1).alias("prop"),
                    ),
                    F.struct(no_rule.alias("rule"), p(2).alias("prop")),
                )
            ).alias("e")
        )
        # pre-dedup the exploded pairs so the two count_distincts (which
        # would otherwise Expand x2) aggregate an already-unique tiny frame
        .select("e.rule", "e.prop")
        .distinct()
        .agg(
            F.count_distinct("rule").alias("rudder_identity_merge_rules"),
            F.count_distinct("prop").alias("rudder_identity_mappings"),
        )
        .select(
            F.explode(
                F.array(
                    pair(F.lit("rudder_identity_merge_rules"), F.col("rudder_identity_merge_rules")),
                    pair(F.lit("rudder_identity_mappings"), F.col("rudder_identity_mappings")),
                )
            ).alias("row")
        )
        .select("row.*")
    )

    # empty standard tables still get a (name, 0) row, as the reference's
    # per-table upload states do
    seed = local_frame(
        spark, [(t, 0) for t in [*EVENT_TABLES.values(), "users"]],
        "table_name string, n bigint",
    )

    return (
        counts.unionByName(identity_counts)
        .unionByName(seed)
        .groupBy("table_name")
        .agg(F.sum("n").alias("n"))
        .orderBy("table_name")
    )
