"""JSON flattening + rudder type inference (reference P5 + P7).

The reference flattens nested `context`/`properties`/`traits`/`userProperties`
objects into snake_cased prefixed columns (embedded/warehouse/set.go:15-228),
with recursion stopping at level 3, and infers a column type per value
(`dataTypeFor`, embedded/warehouse/datatype.go:11-22): int vs float via
integer-valuedness, timestamp-looking strings → datetime, bool → boolean,
else string; nulls are skipped. Schemas consolidate across a batch
(warehouse/schema/schema.go:294-343).

Spark-first design (two phases, both distributed):

  Phase 1 — schema discovery: `parse_json` each payload into a VARIANT and
  let `schema_of_variant_agg` merge the per-row types of each group into one
  OBJECT schema — a single aggregation over the corpus, no driver-side JSON
  walking (the driver only receives the final merged schema string, bytes,
  not data). Numeric consolidation (int + decimal → double) follows the
  reference's int↔float coercion rule; VOID (all-null) keys are dropped
  exactly like the reference's null-skip.

  Phase 2 — projection: one generated `select` of
  `try_variant_get(v, '$.path', <type>)` expressions — fully codegen'd,
  no Python. A third aggregate pass promotes string columns whose every
  non-null value matches the RFC3339 shape to timestamp (datatype.go:15-17).

At 100 TB both phases scale: phase 1 is a map + tree-aggregate of small
schema objects; phase 2 is a narrow map.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F, types as T

from rudder_server_spark.functions.names import safe_column_name

DEFAULT_GROUPS = ("context", "properties", "traits", "userProperties")
# flattening stops at this nesting level (set.go recursion limit); deeper
# objects land as one JSON string column
MAX_DEPTH = 3
# subtrees that may collapse as string-like objects (set.go:64-82)
STRING_LIKE_PATHS = ("context.traits",)

# RFC3339-ish timestamp detector (datatype.go:15-17 semantics)
TS_REGEX = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"


def _leaf_paths(schema: T.DataType, prefix: list[str], depth: int):
    """Walk a merged variant OBJECT schema → (json_path_parts, spark_type)."""
    if isinstance(schema, T.StructType) and depth < MAX_DEPTH:
        for f in schema.fields:
            yield from _leaf_paths(f.dataType, prefix + [f.name], depth + 1)
    else:
        yield prefix, schema


def _target_type(dt: T.DataType) -> str | None:
    """Map a merged variant leaf type to the rudder lattice's Spark type.

    Returns None for all-null (VOID) leaves — dropped like the reference's
    null-skip. Deep objects/arrays serialize to JSON strings.
    """
    if isinstance(dt, T.NullType):
        return None
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "bigint"
    if isinstance(dt, (T.DecimalType, T.DoubleType, T.FloatType)):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    return "json"  # struct beyond depth, arrays, mixed → JSON string


def discover_flat_schema(
    df: DataFrame, payload_col: str = "payload"
) -> list[tuple[str, list[str], str]]:
    """Phase 1: returns [(column_name, json_path_parts, target_type), ...].

    column_name is the snake_cased, safety-filtered flattened name
    (group prefix + '_'-joined path). Every event of ``df`` contributes, as
    the reference consolidates a whole staging batch
    (warehouse/schema/schema.go:294-343).
    """
    per_alias = discover_group_schemas(df, [(g, g, None) for g in DEFAULT_GROUPS], payload_col)
    return sorted(e for g in DEFAULT_GROUPS for e in per_alias[g])


def discover_group_schemas(
    df: DataFrame,
    specs: list[tuple],
    payload_col: str = "payload",
) -> dict[str, list[tuple[str, list[str], str]]]:
    """One-pass, multi-alias schema discovery.

    ``specs`` is ``[(alias, json_key, filter_cond_or_None), ...]`` — the same
    json key may appear under several aliases with different row filters
    (e.g. track-properties vs page-properties). ONE scan, ONE JSON parse,
    one wide ``schema_of_variant_agg`` aggregate; returns
    ``{alias: [(column_name, path_parts, target_type), ...]}``.
    """
    filter_cols = sorted(
        {c for _, _, cond in specs if cond is not None for c in df.columns if c != payload_col}
    )
    # parse each payload ONCE into a variant column, then aggregate — with
    # parse_json inlined per alias the payload would be re-parsed per spec
    parsed = df.select(
        F.parse_json(F.col(payload_col)).alias("_v"), *[F.col(c) for c in filter_cols]
    )

    def spec_expr(alias: str, key: str, cond):
        v = F.try_variant_get(F.col("_v"), f"$.{key}", "variant")
        if cond is not None:
            v = F.when(cond, v)
        return F.schema_of_variant_agg(v).alias(alias)

    agg = parsed.agg(*[spec_expr(a, k, c) for a, k, c in specs]).head()
    out: dict[str, list[tuple[str, list[str], str]]] = {}
    for alias, key, _ in specs:
        entries: list[tuple[str, list[str], str]] = []
        ddl = agg[alias]
        if ddl is not None and ddl != "VOID":
            # schema_of_variant_agg prints OBJECT<...>; parse as STRUCT DDL
            struct_ddl = re.sub(r"\bOBJECT<", "STRUCT<", ddl)
            try:
                parsed_t = T._parse_datatype_string(struct_ddl)
            except Exception:
                parsed_t = None
            if isinstance(parsed_t, T.StructType):
                for path, dt in _leaf_paths(parsed_t, [key], 1):
                    tgt = _target_type(dt)
                    if tgt is None:
                        continue
                    entries.append((safe_column_name("_".join(path)), path, tgt))
        out[alias] = sorted(entries)
    return out


def discover_promotions(
    df: DataFrame,
    schema: list[tuple[str, list[str], str]],
    payload_col: str = "payload",
) -> set:
    """Decide which discovered string columns promote to timestamp.

    Column-level vote over every event of ``df``: a string column promotes
    when each of its non-null values has the RFC3339 shape
    (datatype.go:15-17 decides per value at load; the projection's
    try_cast nulls any later straggler). Like the schema itself, the result
    is a property of the CORPUS, not of a query — persist it alongside the
    schema registry entry instead of re-deriving it per read.
    """
    str_entries = [(n, p) for n, p, tgt in schema if tgt == "string"]
    if not str_entries:
        return set()
    root: dict = {}
    for _, path in str_entries:
        cur = root
        for part in path[:-1]:
            cur = cur.setdefault(part, {})
        cur[path[-1]] = "string"

    def to_struct(node: dict) -> T.StructType:
        return T.StructType(
            [
                T.StructField(k, to_struct(v) if isinstance(v, dict) else T.StringType())
                for k, v in node.items()
            ]
        )

    flat = df.select(
        F.from_json(F.col(payload_col), to_struct(root)).alias("_s")
    ).select(*[F.col("_s." + ".".join(p)).alias(n) for n, p in str_entries])
    checks = flat.agg(
        *[
            F.min(F.when(F.col(c).isNotNull(), F.col(c).rlike(TS_REGEX))).alias(c)
            for c, _ in str_entries
        ]
    ).head()
    return {c for c, _ in str_entries if checks[c] is True}


def _string_like_subtrees(scalar: list[tuple[str, list[str], str]]) -> dict[tuple, list]:
    """Subtrees of ``scalar`` entries that CAN collapse as string-like
    objects (set.go:30-31): every direct leaf is a digit-named string.
    Returns {path_parts: [entries sorted by index]}."""
    strlike: dict[tuple, list] = {}
    for sl in STRING_LIKE_PATHS:
        parts = tuple(sl.split("."))
        subtree = [
            (n, p, t)
            for n, p, t in scalar
            if len(p) == len(parts) + 1 and tuple(p[: len(parts)]) == parts
        ]
        if subtree and all(p[-1].isdigit() and t == "string" for _, p, t in subtree):
            strlike[parts] = sorted(subtree, key=lambda e: int(e[1][-1]))
    return strlike


def string_like_collapsed(schema: list[tuple[str, list[str], str]]) -> dict[str, tuple]:
    """Names of the columns :func:`flatten_events` will synthesize from
    string-like subtrees of ``schema`` — {collapsed_column_name: path_parts}.
    Callers projecting flatten_events output (the P8 fan-out) use this to
    include the collapsed column in their selects."""
    scalar = [(n, p, t) for n, p, t in schema if t != "json"]
    return {
        safe_column_name("_".join(parts)): parts
        for parts in _string_like_subtrees(scalar)
    }


def flatten_events(
    df: DataFrame,
    payload_col: str = "payload",
    keep_cols: tuple = ("message_id",),
    schema: list[tuple[str, list[str], str]] | None = None,
    json_paths: tuple = (),
    promote: set | None = None,
) -> DataFrame:
    """Phase 2: project the discovered schema into flattened typed columns.

    The projection parses the payload exactly ONCE with `from_json` against
    the discovered nested schema (a single JSON walk per row), then selects
    struct fields — benched ~3× faster than per-column variant path-gets at
    1M rows. Leaves typed `json` (objects past MAX_DEPTH, arrays) fall back
    to a variant extraction serialized with to_json.

    Left None, ``schema`` and ``promote`` are discovered from every event
    of ``df`` (:func:`discover_flat_schema`, :func:`discover_promotions`).
    Pass a precomputed ``schema`` to skip the discovery pass — e.g. when
    one discovery feeds several projections (the P8 fan-out) — and a
    precomputed ``promote`` set (``set()`` promotes nothing) to skip the
    promotion pass.

    ``json_paths`` lists dotted paths (e.g. ``"properties.items"``) whose
    subtree must stay a JSON string instead of flattening — the reference's
    configured jsonpaths (embedded/warehouse/jsonpaths.go): columns a
    customer declares as opaque JSON documents.
    """
    if schema is None:
        schema = discover_flat_schema(df, payload_col)
    if json_paths:
        forced = [tuple(p.split(".")) for p in json_paths]

        def under(path: list[str]):
            return next((f for f in forced if tuple(path[: len(f)]) == f), None)

        collapsed: dict[tuple, tuple] = {}
        for name, path, tgt in schema:
            hit = under(path)
            if hit is None:
                collapsed[tuple(path)] = (name, path, tgt)
            else:
                # collapse every leaf below a forced path to ONE json column
                collapsed[hit] = (safe_column_name("_".join(hit)), list(hit), "json")
        schema = sorted(collapsed.values())

    scalar = [(n, p, t) for n, p, t in schema if t != "json"]
    jsonly = [(n, p, t) for n, p, t in schema if t == "json"]

    # nested StructType mirroring the discovered leaf paths (original JSON key
    # names — snake_casing applies only to the flattened OUTPUT columns)
    root: dict = {}
    for _, path, tgt in scalar:
        cur = root
        for part in path[:-1]:
            cur = cur.setdefault(part, {})
        cur[path[-1]] = tgt

    def to_struct(node: dict) -> T.StructType:
        fields = []
        for key, val in node.items():
            dt = to_struct(val) if isinstance(val, dict) else T._parse_datatype_string(val)
            fields.append(T.StructField(key, dt))
        return T.StructType(fields)

    staged_cols = [F.col(c) for c in keep_cols]
    if scalar:
        staged_cols.append(
            F.from_json(F.col(payload_col), to_struct(root)).alias("_s")
        )
    if jsonly:
        staged_cols.append(F.parse_json(F.col(payload_col)).alias("_v"))
    staged = df.select(*staged_cols)

    if promote is None:
        promote = discover_promotions(df, schema, payload_col)

    # "string-like objects" (set.go:30-31, stringlikeobject.go): an object
    # whose keys are consecutive non-negative integers starting at 0 or 1 and
    # whose values are all single-character strings re-joins to ONE string
    # column named by its prefix (a JS SDK spreading a string: {"0":"a",
    # "1":"b"} -> "ab"). The reference decides per event; here the schema
    # gates which subtrees CAN be string-like (all integer-named string
    # leaves) and a row-level predicate decides per row, vectorized:
    # qualifying rows collapse, non-qualifying rows keep indexed columns.
    # Scope matches the reference: context.traits only (set.go:64-82).
    strlike = _string_like_subtrees(scalar)

    strlike_names = {n for entries in strlike.values() for n, _, _ in entries}
    strlike_quals: dict[str, object] = {}
    collapsed_cols: list = []
    for parts, entries in strlike.items():
        pairs = F.array(
            *[
                F.struct(
                    F.lit(int(p[-1])).alias("i"),
                    F.col("_s." + ".".join(p)).alias("v"),
                )
                for _, p, _ in entries
            ]
        )
        nn = F.filter(pairs, lambda s: s.getField("v").isNotNull())
        idxs = F.transform(nn, lambda s: s.getField("i"))
        qual = (
            (F.size(nn) > 0)
            & F.forall(nn, lambda s: F.length(s.getField("v")) == 1)
            & F.array_min(idxs).isin(0, 1)
            & ((F.array_max(idxs) - F.array_min(idxs) + 1) == F.size(nn))
        )
        for n, _, _ in entries:
            strlike_quals[n] = qual
        collapsed_cols.append(
            F.when(qual, F.concat_ws("", F.transform(nn, lambda s: s.getField("v"))))
            .alias(safe_column_name("_".join(parts)))
        )

    def scalar_expr(name: str, path: list[str]):
        e = F.col("_s." + ".".join(path))
        if name in strlike_names:
            e = F.when(~strlike_quals[name], e)
        if name in promote:
            e = e.try_cast("timestamp")
        return e.alias(name)

    cols = [F.col(c) for c in keep_cols]
    cols += [scalar_expr(name, path) for name, path, _ in scalar]
    cols += collapsed_cols
    cols += [
        F.to_json(F.try_variant_get(F.col("_v"), "$." + ".".join(path), "variant")).alias(name)
        for name, path, _ in jsonly
    ]
    return staged.select(*cols)
