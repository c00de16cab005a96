"""Stream-manager destination shaping: Kinesis, Lambda, EventBridge.

The reference's services/streammanager/ holds one small ``Produce`` per
destination: unmarshal the routed jsonData, pull the destination config,
build the provider SDK's input struct, send, map errors to (statusCode,
respStatus, message). The SDK call is environment-blocked here (no AWS in
this sandbox), so — exactly like sources/kafka.py (S9) — each manager is
split into

  1. a **shape**: ONE narrow codegen'd projection producing the provider's
     documented input contract as columns (plus ``error`` for rows the
     reference would 400 before sending), and
  2. an **injectable producer seam**: ``publish_stream(shaped, producer)``
     hands the error-free contract columns to ``producer(df)``; tests
     inject a recording producer, deployment injects the real client
     (foreachBatch + boto3, per-partition client reuse).

Shapes are pure column expressions — whole-stage codegen, no UDFs, no
shuffle; they compose with router_sink / kafka_sink for the streaming path.

Reference anchors:
  - kinesis: services/streammanager/kinesis/kinesismanager.go:57-112
    (message subtree → Data; partitionKey = messageId when UseMessageID
    else userId; empty message → 400 "InvalidPayload"/"Empty Payload"),
    kinesismanager_utils.go:8-11 (Config{Stream, UseMessageID}).
  - lambda: services/streammanager/lambda/lambdamanager.go:46-87
    (inputData{payload} string → InvokeInput.Payload; config
    {lambda, invocationType default "Event", clientContext}; empty
    payload → 400 "Invalid payload"), lambdamanager_utils.go:5-14.
  - eventbridge: services/streammanager/eventbridge/eventbridgemanager.go:
    46-99 (jsonData IS the PutEventsRequestEntry; Detail/DetailType/Source
    all required — the AWS API reports per-entry errors when missing, which
    the manager surfaces as a 400).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType, VariantType


def _nonempty(c: Column) -> Column:
    return F.when(c.isNotNull() & (c != ""), c)


def _getter(df: DataFrame, json_data_col: str):
    """Returns ``(get, whole)``: a path extractor over the routed document
    plus the whole document as a JSON string. ``get_json_object`` when the
    column is the raw string; cheap binary navigation when the caller
    pre-parsed it to a VARIANT (``F.parse_json``). The combined shape
    audits (q91/q96/q97) read 15+ paths out of a multi-KB document —
    get_json_object re-parses the WHOLE string per path, so parse-once +
    variant_get is the scale shape (one parse, many O(log n) lookups).
    Missing paths and JSON nulls both return SQL NULL; strings come back
    unquoted; containers as compact JSON — get_json_object parity."""
    j = F.col(json_data_col)
    dt = df.schema[json_data_col].dataType
    if isinstance(dt, StructType):
        # the typed routed document (routed_stream_document as_struct=True):
        # top-level keys are struct fields — free columnar access, no JSON
        # parse at all; a nested path pays ONE small get_json_object over
        # its subtree's text. Unknown keys are NULL, like a missing key.
        names = set(dt.fieldNames())

        def get(path: str) -> Column:
            head, _, rest = path[2:].partition(".")
            if head not in names:
                return F.lit(None).cast("string")
            c = j[head]
            return F.get_json_object(c, "$." + rest) if rest else c

        return get, _struct_doc_text(j, dt)
    if isinstance(dt, VariantType):
        # try_variant_get(..., "string") IS get_json_object parity in one
        # expression (measured): strings unquoted, containers as compact
        # JSON, JSON-null AND missing paths both SQL NULL. Keeping it a
        # single node matters — an earlier 3-branch when/to_json getter
        # blew up whole-stage codegen (~170 s one-time janino compile on
        # a 1 GB driver once the audits duplicated it across branches).
        return (
            lambda path: F.try_variant_get(j, path, "string"),
            F.to_json(j),
        )
    return (lambda path: F.get_json_object(j, path)), j


# struct fields whose text is already JSON (embedded raw when the document
# is re-serialized); every other field is a scalar string (JSON-escaped)
_RAW_JSON_FIELDS = frozenset({"message", "detail", "properties", "batch"})


def _struct_doc_text(j: Column, dt) -> Column:
    """Re-serialize the typed routed document to the exact JSON string the
    as_struct=False path builds: fields in struct order, NULL fields
    omitted (they were conditional keys), container fields embedded raw,
    scalar fields JSON-escaped. Only whole-document consumers (gcf body,
    personalize's default PutEvents request) pay this — column pruning
    drops it everywhere else."""

    def js(c: Column) -> Column:
        arr = F.to_json(F.array(c))
        return arr.substr(F.lit(2), F.length(arr) - F.lit(2))

    parts = []
    for f in dt.fieldNames():
        c = j[f]
        rendered = c if f in _RAW_JSON_FIELDS else js(c)
        seg = F.concat(F.lit(f',"{f}":'), rendered)
        parts.append(F.when(c.isNotNull(), seg).otherwise(F.lit("")))
    body = F.concat(*parts)
    # every present field leads with ',' — drop the first one behind '{'
    return F.concat(F.lit("{"), body.substr(F.lit(2), F.length(body)), F.lit("}"))


def wrap_stream_event(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Wrap a raw event payload into the routed jsonData document the
    stream managers consume: ``{"message": <payload>, "userId": ...}``
    (the transformer output contract the router hands to Produce).
    userId falls back to anonymousId like the kafka shaping."""
    p = F.col(payload_col)
    user_id = F.coalesce(
        _nonempty(F.get_json_object(p, "$.userId")),
        F.get_json_object(p, "$.anonymousId"),
        F.lit(""),
    )
    arr = F.to_json(F.array(user_id))
    user_json = arr.substr(F.lit(2), F.length(arr) - F.lit(2))
    return df.withColumn(
        "json_data",
        F.concat(F.lit('{"message":'), p, F.lit(',"userId":'), user_json, F.lit("}")),
    )


def routed_stream_document(
    df: DataFrame,
    payload_col: str = "payload",
    as_struct: bool = False,
    fields: frozenset | set | None = None,
) -> DataFrame:
    """Synthesize the routed transformer-output document ONCE for every
    json_data-consuming stream manager, so a combined shape audit fans 9
    managers off a single scan + doc build instead of re-deriving a
    per-manager document 9 times. One superset jsonData per event — each
    manager reads only its own keys (the contracts are disjoint):

    - ``message`` + ``userId``   — kinesis (kinesismanager.go:57-112) and
      firehose's record body; userId falls back to anonymousId;
    - ``payload``                — lambda / wunderkind / personalize's
      known-choice request (string-encoded event,
      lambdamanager_utils.go:12-14); OMITTED for 'page' and 'extract'
      events — the deterministic Invalid-payload cohort shared by all
      payload readers;
    - ``detail``/``detailType``/``source`` — eventbridge; source only
      when the event has a name (the Source gate cohort);
    - ``deliveryStreamMapTo``    — firehose stream routing, same
      name-present gate;
    - ``choice``                 — personalize: merge → PutUsers,
      extract → PutItems (which then hits the missing-payload 400);
    - ``datasetId``/``tableId``/``properties`` — bqstream; datasetId
      omitted for 'page' (gate cohort), track carries a TWO-record array
      (exercises the record explode);
    - ``batch``                  — google sheets positioned rows
      ({"0": messageId, "1": event, "2": price}) for track events;
    - gcf posts the whole document.

    Returns the input plus the single ``json_data`` column (sources
    already carry ``event_type`` — the fixture column equals the
    payload's ``$.type``). Audits should ``.persist()`` the result before
    fanning out — union branches then read the in-memory relation instead
    of re-scanning (the plan pin in tests/test_plan_quality.py asserts
    one parquet scan under the whole combined audit).

    ``as_struct=True`` returns the SAME document as a typed struct column
    instead of a serialized JSON string — the Spark-first representation:
    columnar in the cache, zero parse on access (shapes read struct
    fields through ``_getter``), nested keys pay one SMALL get_json_object
    over their subtree instead of re-parsing the multi-KB document.
    Absent-key cohorts (payload omitted for page/extract, datasetId for
    page, source gated on the event name) are NULL fields — exactly what
    ``get_json_object`` returns for a missing key, so shape semantics are
    identical. Container-valued fields hold their JSON text; scalar
    fields hold the unquoted value (the get_json_object convention).

    ``fields`` (as_struct only) is a PRUNING hint: build only the named
    struct fields. Catalyst cannot prune the others itself — the struct
    is referenced many times downstream, so CollapseProject declines to
    merge the projections and SimplifyExtractValueOps never sees through
    it; every row then pays the FULL superset document (measured on q91:
    the unused ``batch`` field alone re-parses the multi-KB payload four
    times per row). The caller must whitelist every path its shapes READ
    in this audit — a missing name reads as NULL (same as an absent key),
    which would silently move a shape's 400 cohort — and must not consume
    a whole-document (``_struct_doc_text``) output, which re-serializes
    only the whitelisted fields.
    """
    p = F.col(payload_col)
    # the routed sources already carry event_type == payload's $.type
    # (fixture contract, asserted above) — reading the COLUMN instead of
    # re-parsing the payload removes one JSON parse per row from every
    # etype-gated field (payload/choice/datasetId/properties/batch)
    etype = (
        F.col("event_type")
        if "event_type" in df.columns
        else F.get_json_object(p, "$.type")
    )
    ename = _nonempty(F.get_json_object(p, "$.event"))
    uid = F.coalesce(
        _nonempty(F.get_json_object(p, "$.userId")),
        F.get_json_object(p, "$.anonymousId"),
        F.lit(""),
    )

    def js(c: Column) -> Column:
        arr = F.to_json(F.array(c))
        return arr.substr(F.lit(2), F.length(arr) - F.lit(2))

    positioned = F.concat(
        F.lit('{"0":{"attributeKey":"messageId","attributeValue":'),
        js(F.get_json_object(p, "$.messageId")),
        F.lit('},"1":{"attributeKey":"event","attributeValue":'),
        js(F.get_json_object(p, "$.event")),
        F.lit('},"2":{"attributeKey":"price","attributeValue":'),
        F.coalesce(F.get_json_object(p, "$.properties.price"), F.lit("null")),
        F.lit("}}"),
    )
    if as_struct:
        named = [
            ("message", p),
            ("userId", uid),
            ("detail", p),
            ("detailType", etype),
            ("source", ename),
            ("deliveryStreamMapTo", ename),
            ("payload", F.when(~etype.isin("page", "extract"), p)),
            (
                "choice",
                F.when(etype == "merge", F.lit("PutUsers"))
                .when(etype == "extract", F.lit("PutItems")),
            ),
            ("datasetId", F.when(etype != "page", F.lit("d"))),
            ("tableId", F.lit("t")),
            (
                "properties",
                F.when(
                    etype == "track",
                    F.concat(F.lit("["), p, F.lit(","), p, F.lit("]")),
                ).otherwise(p),
            ),
            (
                "batch",
                F.when(
                    etype == "track",
                    F.concat(F.lit('[{"message":'), positioned, F.lit("}]")),
                ),
            ),
        ]
        if fields is not None:
            # fail fast on a misspelled whitelist entry: an unknown name
            # would otherwise be silently dropped and every shape read of
            # it would return NULL — quietly moving that shape's 400
            # cohort (ADVICE r11)
            unknown = set(fields) - {n for n, _ in named}
            if unknown:
                raise ValueError(
                    "routed_stream_document: unknown field(s) in "
                    f"whitelist {sorted(unknown)}; known fields: "
                    f"{sorted(n for n, _ in named)}"
                )
            named = [(n, c) for n, c in named if n in fields]
        doc = F.struct(*[c.alias(n) for n, c in named])
        return df.withColumn("json_data", doc)

    doc = F.concat(
        F.lit('{"message":'), p,
        F.lit(',"userId":'), js(uid),
        F.lit(',"detail":'), p,
        F.lit(',"detailType":'), js(etype),
        F.when(
            ename.isNotNull(),
            F.concat(
                F.lit(',"source":'), js(ename),
                F.lit(',"deliveryStreamMapTo":'), js(ename),
            ),
        ).otherwise(F.lit("")),
        F.when(
            ~etype.isin("page", "extract"),
            F.concat(F.lit(',"payload":'), js(p)),
        ).otherwise(F.lit("")),
        F.when(etype == "merge", F.lit(',"choice":"PutUsers"'))
        .when(etype == "extract", F.lit(',"choice":"PutItems"'))
        .otherwise(F.lit("")),
        F.when(etype != "page", F.lit(',"datasetId":"d"')).otherwise(F.lit("")),
        F.lit(',"tableId":"t"'),
        F.lit(',"properties":'),
        F.when(
            etype == "track", F.concat(F.lit("["), p, F.lit(","), p, F.lit("]"))
        ).otherwise(p),
        F.when(
            etype == "track",
            F.concat(F.lit(',"batch":[{"message":'), positioned, F.lit("}]")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return df.withColumn("json_data", doc)


def kinesis_shape(
    df: DataFrame,
    dest_config: dict | None = None,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Kinesis PutRecord input as columns: ``stream``, ``partition_key``,
    ``data`` (the message subtree re-marshalled, binary), ``error``.

    Partition-key precedence (kinesismanager.go:87-95): when the config
    sets ``useMessageID``, ``message.messageId``; empty/unset falls back to
    root ``userId``. A missing/empty message is the reference's
    400 "Empty Payload" — surfaced as ``error`` instead of a sent row.
    """
    cfg = dest_config or {}
    get, _ = _getter(df, json_data_col)
    msg = get("$.message")
    pk = get("$.userId")
    if cfg.get("useMessageID"):
        pk = F.coalesce(_nonempty(get("$.message.messageId")), pk)
    stream = F.lit(cfg.get("stream")).cast("string")
    error = F.when(stream.isNull(), F.lit("stream is required for Kinesis")).when(
        _nonempty(msg).isNull(), F.lit("Empty Payload")
    )
    return df.select(
        "*",
        stream.alias("stream"),
        F.when(error.isNull(), pk).alias("partition_key"),
        F.when(error.isNull(), msg.cast("binary")).alias("data"),
        error.alias("error"),
    )


def lambda_shape(
    df: DataFrame,
    dest_config: dict | None = None,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Lambda InvokeInput as columns: ``function_name``,
    ``invocation_type`` (config default "Event"), ``client_context``
    (nullable), ``invoke_payload``, ``error``.

    jsonData carries ``{"payload": "<string>"}`` (lambdamanager_utils.go:
    12-14); an empty payload is the reference's 400 "Invalid payload".
    """
    cfg = dest_config or {}
    get, _ = _getter(df, json_data_col)
    payload = get("$.payload")
    fn_name = F.lit(cfg.get("lambda")).cast("string")
    inv = F.lit(cfg.get("invocationType") or "Event")
    ctx = F.lit(cfg.get("clientContext") or None).cast("string")
    error = F.when(fn_name.isNull(), F.lit("lambda function is required")).when(
        _nonempty(payload).isNull(), F.lit("Invalid payload")
    )
    return df.select(
        "*",
        F.when(error.isNull(), fn_name).alias("function_name"),
        F.when(error.isNull(), inv).alias("invocation_type"),
        F.when(error.isNull(), ctx).alias("client_context"),
        F.when(error.isNull(), payload).alias("invoke_payload"),
        error.alias("error"),
    )


def eventbridge_shape(
    df: DataFrame,
    json_data_col: str = "json_data",
) -> DataFrame:
    """EventBridge PutEventsRequestEntry as columns: ``detail`` (JSON
    string), ``detail_type``, ``source``, ``event_bus_name`` (nullable →
    the provider default bus), ``resources`` (array<string>), ``error``.

    jsonData IS the entry document (eventbridgemanager.go:54-58). The AWS
    API nil-errors entries missing Detail/DetailType/Source and reports the
    failure per-entry (eventbridgemanager.go:85-92) — the shape rejects
    them up front as ``error`` rows.
    """
    get, _ = _getter(df, json_data_col)
    detail = get("$.detail")
    detail_type = get("$.detailType")
    source = get("$.source")
    bus = get("$.eventBusName")
    resources = F.from_json(get("$.resources"), "array<string>")
    error = (
        F.when(_nonempty(detail).isNull(), F.lit("Detail is required for EventBridge"))
        .when(_nonempty(detail_type).isNull(), F.lit("DetailType is required for EventBridge"))
        .when(_nonempty(source).isNull(), F.lit("Source is required for EventBridge"))
    )
    ok = error.isNull()
    return df.select(
        "*",
        F.when(ok, detail).alias("detail"),
        F.when(ok, detail_type).alias("detail_type"),
        F.when(ok, source).alias("source"),
        F.when(ok, bus).alias("event_bus_name"),
        F.when(ok, resources).alias("resources"),
        error.alias("error"),
    )


def publish_stream(
    shaped: DataFrame,
    contract_cols: list,
    producer=None,
) -> DataFrame:
    """Deliver shaped rows through the injectable producer seam; return
    the failed (``error`` non-null) rows for the proc_error path — the
    same contract as sources/kafka.publish_kafka.

    ``producer(df)`` receives ONLY the provider contract columns of the
    error-free rows; None raises (no AWS SDK in this environment — the
    deployment wiring is a foreachBatch boto3 client per partition, the
    exact seam router_sink uses for HTTP).
    """
    ok = shaped.where(F.col("error").isNull()).select(*contract_cols)
    if producer is None:
        raise NotImplementedError(
            "no default stream producer in this environment; inject "
            "producer(df) (deployment: foreachBatch + per-partition client)"
        )
    producer(ok)
    return shaped.where(F.col("error").isNotNull())


def firehose_shape(
    df: DataFrame,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Firehose PutRecord input as columns: ``delivery_stream``, ``data``
    (the message subtree re-marshalled, binary), ``error``.

    The routed document carries its own target stream
    (``deliveryStreamMapTo``, firehosemanager.go:49-86); a missing message
    or missing/empty stream is the reference's 400.
    """
    get, _ = _getter(df, json_data_col)
    msg = get("$.message")
    stream = get("$.deliveryStreamMapTo")
    error = F.when(
        _nonempty(msg).isNull(), F.lit("message from payload not found")
    ).when(_nonempty(stream).isNull(), F.lit("Delivery Stream not found"))
    ok = error.isNull()
    return df.select(
        "*",
        F.when(ok, stream).alias("delivery_stream"),
        F.when(ok, msg.cast("binary")).alias("data"),
        error.alias("error"),
    )


def wunderkind_shape(
    df: DataFrame,
    env_config: dict | None = None,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Wunderkind delivery — a pinned-config Lambda invoke
    (wunderkindmanager.go:58-90, wunderkind_utils.go:3-18): the function
    comes from deployment env (WUNDERKIND_LAMBDA), the invocation type is
    always RequestResponse, and the payload contract matches lambda's.
    """
    cfg = env_config or {}
    get, _ = _getter(df, json_data_col)
    payload = get("$.payload")
    fn_name = F.lit(cfg.get("WUNDERKIND_LAMBDA")).cast("string")
    error = F.when(fn_name.isNull(), F.lit("wunderkind lambda is required")).when(
        _nonempty(payload).isNull(), F.lit("Invalid payload")
    )
    ok = error.isNull()
    return df.select(
        "*",
        F.when(ok, fn_name).alias("function_name"),
        F.when(ok, F.lit("RequestResponse")).alias("invocation_type"),
        F.when(ok, payload).alias("invoke_payload"),
        error.alias("error"),
    )


def personalize_shape(
    df: DataFrame,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Personalize dispatch (personalizemanager.go:46-88): ``choice``
    selects the API (PutEvents / PutUsers / PutItems) with the request
    under ``payload``; anything else defaults to PutEvents over the WHOLE
    document. Columns: ``api``, ``request`` (the JSON the SDK input is
    unmarshalled from), ``tracking_id`` (PutEvents' required id, surfaced
    for auditability), ``error``.
    """
    get, whole = _getter(df, json_data_col)
    choice = get("$.choice")
    payload = get("$.payload")
    known = choice.isin("PutEvents", "PutUsers", "PutItems")
    api = F.when(known, choice).otherwise(F.lit("PutEvents"))
    request = F.when(known, payload).otherwise(whole)
    error = F.when(
        known & payload.isNull(),
        F.lit("Could not unmarshal jsonData"),
    )
    ok = error.isNull()
    tracking = F.get_json_object(request, "$.trackingId")
    return df.select(
        "*",
        F.when(ok, api).alias("api"),
        F.when(ok, request).alias("request"),
        F.when(ok & (api == "PutEvents"), tracking).alias("tracking_id"),
        error.alias("error"),
    )


def bqstream_shape(
    df: DataFrame,
    json_data_col: str = "json_data",
) -> DataFrame:
    """BigQuery streaming-insert rows (bqstreammanager.go:120-157): the
    document carries ``datasetId``/``tableId`` and ``properties`` — one
    record object OR an array of them; each becomes one insertAll row.
    One-to-many, so this EXPLODES: output one row per record with
    ``dataset_id``, ``table_id``, ``record`` (JSON string), ``error``
    (key-less/record-less documents keep one NULL-record row).
    """
    get, _ = _getter(df, json_data_col)
    ds, tbl = get("$.datasetId"), get("$.tableId")
    props = get("$.properties")
    error = F.when(
        _nonempty(ds).isNull() | _nonempty(tbl).isNull(),
        F.lit("datasetId and tableId are required"),
    ).when(props.isNull(), F.lit("error in unmarshalling data"))
    ok = error.isNull()
    arr_case = ok & F.trim(props).startswith("[")
    # array → parse to variant elements and EXPLODE FIRST, re-marshal each
    # element to JSON text after the explode: to_json inside a transform()
    # lambda runs interpreted per element (~10x slower measured at sf0.1);
    # to_json over the exploded variant column stays in codegen. Object
    # documents keep their RAW text (one row, no re-marshal); error rows
    # keep one NULL-record row via the single-null placeholder array.
    null_varr = F.array(F.lit(None).cast("variant"))
    exploded = df.select(
        "*",
        # props carried through the generate as a NARROW string — deriving
        # it from json_data after the explode would drag the whole routed
        # document (every struct field materialized) through the Generate
        F.when(ok & ~arr_case, props).alias("_props_obj"),
        F.when(ok, ds).alias("dataset_id"),
        F.when(ok, tbl).alias("table_id"),
        F.explode_outer(
            F.when(arr_case, F.from_json(props, "array<variant>")).otherwise(
                null_varr
            )
        ).alias("_rec_v"),
        error.alias("error"),
    )
    ok_kept = F.col("error").isNull()
    return exploded.select(
        *[c for c in exploded.columns if c not in ("_rec_v", "_props_obj")],
        F.when(ok_kept & F.col("_rec_v").isNotNull(), F.to_json("_rec_v"))
        .when(ok_kept, F.col("_props_obj"))
        .alias("record"),
    )


def bqstream_audit_cols(
    df: DataFrame,
    json_data_col: str = "json_data",
    ok_col: str = "_bq_ok",
    nrec_col: str = "_bq_nrec",
) -> DataFrame:
    """Aggregate-pushdown twin of :func:`bqstream_shape` for the combined
    audits: appends ``ok_col`` (would the document pass the 400 gate) and
    ``nrec_col`` (how many insertAll rows the explode WOULD emit — the
    record-array length, 1 for object documents). ``sum(when(ok, nrec))``
    equals the post-explode resolved cardinality without running the
    Generate, letting q96 ride the bqstream counts on its fused
    single-pass aggregate instead of a second scan over the routed
    document (the r8 shape read the persisted doc twice by design).
    The full exploding relation stays bqstream_shape (q104 exercises it
    end-to-end over every record)."""
    get, _ = _getter(df, json_data_col)
    ds, tbl = get("$.datasetId"), get("$.tableId")
    props = get("$.properties")
    ok = (
        _nonempty(ds).isNotNull()
        & _nonempty(tbl).isNotNull()
        & props.isNotNull()
    )
    # explode_outer parity: empty and malformed arrays still emit ONE
    # (null-record) row, so the per-document row count is never below 1
    nrec = F.when(
        F.trim(props).startswith("["),
        F.greatest(F.coalesce(F.json_array_length(props), F.lit(1)), F.lit(1)),
    ).otherwise(F.lit(1))
    return df.select("*", ok.alias(ok_col), nrec.alias(nrec_col))


def googlesheets_shape(
    df: DataFrame,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Google Sheets row values (googlesheetsmanager.go:120-260): the
    transformed document is ``{message: {"<pos>": {attributeKey,
    attributeValue}, ...}}``, optionally wrapped in ``batch: [...]``; each
    message appends one sheet row whose cells sit at the numeric positions.
    Relational contract: one row per (batch_index, position) with
    ``attribute_key``, ``value_str`` and ``value_num`` — numeric
    attributeValues keep their number type (parseTransformedData's
    gjson.Number branch), everything else lands stringified.
    """
    get, whole = _getter(df, json_data_col)
    batch = get("$.batch")
    # EXPLODE FIRST, extract after: to_json inside a transform() lambda
    # runs interpreted per element (the bqstream_shape lesson); exploding
    # the variant elements and taking the message subtree over the
    # exploded column stays in codegen. Non-batch documents ride as a
    # one-element variant array of the whole document (its $.message is
    # the same subtree a batch element carries).
    elems = F.when(
        batch.isNotNull(), F.from_json(batch, "array<variant>")
    ).otherwise(F.array(F.try_parse_json(whole)))
    rows = df.select(
        "*", F.posexplode_outer(elems).alias("batch_index", "_mv")
    )
    # direct variant→map cast of the message subtree (r12): the r11 shape
    # re-serialized it (to_json) and re-parsed with
    # from_json(map<string,variant>) — one serialization + one full parse
    # per row that the cast skips, and from_json over variant values is
    # CodegenFallback-adjacent. Byte-identical incl. NULL cohorts
    # (non-object message, absent message) — probed, and pinned by the
    # q97 oracle; measured 1.87 → 1.29 s on q97 at sf0.1
    # (77849b4:bench/ab_q97sheets_r12.json).
    cells = rows.select(
        *[c for c in rows.columns if c != "_mv"],
        F.explode_outer(
            F.try_variant_get(F.col("_mv"), "$.message", "map<string,variant>")
        ).alias("_pos", "_cell"),
    )
    raw_val = F.to_json(F.try_variant_get(F.col("_cell"), "$.attributeValue", "variant"))
    is_num = raw_val.isNotNull() & ~raw_val.startswith('"') & ~raw_val.isin(
        "null", "true", "false"
    ) & ~raw_val.startswith("[") & ~raw_val.startswith("{")
    pos = F.col("_pos").try_cast("int")
    return cells.select(
        *[c for c in cells.columns if not c.startswith("_")],
        pos.alias("position"),
        F.try_variant_get(F.col("_cell"), "$.attributeKey", "string").alias(
            "attribute_key"
        ),
        F.try_variant_get(F.col("_cell"), "$.attributeValue", "string").alias(
            "value_str"
        ),
        F.when(is_num, F.try_variant_get(F.col("_cell"), "$.attributeValue", "double"))
        .alias("value_num"),
        F.when(F.col("_pos").isNotNull() & pos.isNull(),
               F.lit("non-numeric message position")).alias("error"),
    )


def gcf_shape(
    df: DataFrame,
    dest_config: dict | None = None,
    json_data_col: str = "json_data",
) -> DataFrame:
    """Google Cloud Function delivery (googlecloudfunction.go:123-160):
    POST the routed document to the configured function URL. Columns:
    ``function_url``, ``body`` (binary), ``error``."""
    cfg = dest_config or {}
    _, whole = _getter(df, json_data_col)
    url = F.lit(cfg.get("googleCloudFunctionUrl")).cast("string")
    error = F.when(url.isNull(), F.lit("googleCloudFunctionUrl is required"))
    ok = error.isNull()
    return df.select(
        "*",
        F.when(ok, url).alias("function_url"),
        F.when(ok, whole.cast("binary")).alias("body"),
        error.alias("error"),
    )


def stream_sink(
    shape_fn,
    contract_cols: list,
    producer,
    dest_config: dict | None = None,
    on_error=None,
):
    """foreachBatch sink factory for any stream manager — the S9 streaming
    path generalized from sources/kafka.kafka_sink: shape each micro-batch
    with ``shape_fn(df, dest_config)`` (or ``shape_fn(df)`` for managers
    without a config, e.g. eventbridge), publish the error-free contract
    columns through the injectable ``producer(df)``, and hand shaping
    failures to ``on_error(df, epoch_id)`` (the streaming proc_error
    analogue) when provided. Mirrors the router's per-destination worker
    loop (router/handle.go) with the provider SDK behind the seam."""
    import inspect

    takes_config = len(inspect.signature(shape_fn).parameters) > 2 or (
        "dest_config" in inspect.signature(shape_fn).parameters
        or "env_config" in inspect.signature(shape_fn).parameters
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        shaped = (
            shape_fn(batch_df, dest_config) if takes_config else shape_fn(batch_df)
        )
        failed = publish_stream(shaped, contract_cols, producer=producer)
        if on_error is not None:
            on_error(failed, epoch_id)

    return write_batch


KINESIS_CONTRACT = ["stream", "partition_key", "data"]
LAMBDA_CONTRACT = ["function_name", "invocation_type", "client_context", "invoke_payload"]
EVENTBRIDGE_CONTRACT = ["detail", "detail_type", "source", "event_bus_name", "resources"]
FIREHOSE_CONTRACT = ["delivery_stream", "data"]
WUNDERKIND_CONTRACT = ["function_name", "invocation_type", "invoke_payload"]
PERSONALIZE_CONTRACT = ["api", "request", "tracking_id"]
BQSTREAM_CONTRACT = ["dataset_id", "table_id", "record"]
GOOGLESHEETS_CONTRACT = ["batch_index", "position", "attribute_key", "value_str", "value_num"]
GCF_CONTRACT = ["function_url", "body"]
