"""``functions/localframe.local_frame``: driver-built frames as Arrow
LocalRelations that mean what ``spark.createDataFrame(rows, schema)``
means, and the house rule that every driver-built frame in the engine
goes through it (SCALE.md, Rounds 11 and 12)."""

import ast
import datetime as dt
import os
import pathlib
import time

import pytest
from pyspark.sql import Row

from rudder_server_spark.functions.localframe import local_frame

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "rudder_server_spark"

WIDE = (
    "s string, i int, l long, b bigint, d double, f boolean, "
    "ts timestamp, tags array<string>"
)
WIDE_ROWS = [
    ("a", 1, 2, 3, 1.5, True, dt.datetime(2024, 2, 1, 12, 0), ["x", "y"]),
    (None, None, None, None, None, None, None, None),
    ("", 0, -(2**63), 2**63 - 1, -0.25, False, dt.datetime(2024, 2, 1, 12, 0, 0, 123456), []),
    ("é", -(2**31), 0, 0, float("inf"), None, dt.datetime(2023, 10, 15, 0, 30), [None, ""]),
    # a naive time in a DST gap of America/Sao_Paulo's 2018 calendar, and
    # an aware one that must keep its instant
    ("z", 7, 7, 7, 1e300, True, dt.datetime(2018, 11, 4, 0, 30), ["q"]),
    ("u", 8, 8, 8, 0.0, True, dt.datetime(2024, 2, 1, 12, 0, tzinfo=dt.timezone.utc), None),
]
CASES = {
    "wide": (WIDE, WIDE_ROWS),
    # identity.connected_components' schema, for long and string ids
    "cc_long": ("identifier long, component long", [(1, 1), (5, 1), (2**40, 2**40), (None, None)]),
    "cc_string": ("identifier string, component string", [("a", "a"), ("b", "a"), ("", None)]),
}


@pytest.fixture(params=[None, "America/Sao_Paulo"], ids=["process_tz", "sao_paulo_tz"])
def process_tz(request):
    """Run the test under the process's own TZ, then under a non-UTC one
    set through time.tzset; the previous TZ is restored afterwards."""
    before = os.environ.get("TZ")
    if request.param is not None:
        os.environ["TZ"] = request.param
        time.tzset()
    try:
        yield request.param
    finally:
        if before is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = before
        time.tzset()


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("row_kind", ["tuple", "Row", "dict"])
@pytest.mark.parametrize("schema_kind", ["ddl", "struct"])
def test_local_frame_values_equal_create_data_frame(spark, process_tz, case, row_kind, schema_kind):
    ddl, rows = CASES[case]
    struct = spark.createDataFrame([], ddl).schema
    schema = ddl if schema_kind == "ddl" else struct
    if row_kind == "Row":
        rows = [Row(**dict(zip(struct.names, r))) for r in rows]
    elif row_kind == "dict":
        rows = [dict(zip(struct.names, r)) for r in rows]

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == struct
    assert got.collect() == want.collect()
    # the instant Spark holds, rendered in the session zone, not only the
    # collected value (collect converts back through the same local zone)
    instants = "string(ts) AS ts" if "ts" in struct.names else "*"
    assert got.selectExpr(instants).collect() == want.selectExpr(instants).collect()


def test_local_frame_naive_datetime_is_local_time(spark, process_tz):
    """A naive datetime means the process's local time, as in
    createDataFrame: noon in Sao Paulo is 15:00 UTC."""
    got = local_frame(spark, [(dt.datetime(2024, 2, 1, 12, 0),)], "ts timestamp")
    assert got.collect()[0].ts == dt.datetime(2024, 2, 1, 12, 0)
    if process_tz == "America/Sao_Paulo":
        assert got.selectExpr("string(ts)").first()[0] == "2024-02-01 15:00:00"


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_empty_input(spark, case):
    ddl, _ = CASES[case]
    got = local_frame(spark, [], ddl)
    assert got.schema == spark.createDataFrame([], ddl).schema
    assert got.collect() == []


def test_local_frame_rejects_what_create_data_frame_rejects(spark):
    for rows, ddl in [([("1",)], "i int"), ([(None,)], "i int not null"), ([(1, 2)], "i int")]:
        with pytest.raises(Exception) as want:
            spark.createDataFrame(rows, ddl).collect()
        with pytest.raises(Exception) as got:
            local_frame(spark, rows, ddl)
        assert type(got.value) is type(want.value)


def _bare_frame_calls(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("createDataFrame", "parallelize")
        ):
            yield f"{path.relative_to(ENGINE.parent)}:{node.lineno} .{node.func.attr}(...)"


def test_driver_frames_go_through_local_frame():
    """SCALE.md house rule: driver-local relations go through local_frame,
    never a bare createDataFrame or sparkContext.parallelize, which would
    put a Python worker under every scan of the frame."""
    allowed = ENGINE / "functions" / "localframe.py"
    offenders = [
        call
        for path in sorted(ENGINE.rglob("*.py"))
        if path != allowed
        for call in _bare_frame_calls(path)
    ]
    assert offenders == []
    assert list(_bare_frame_calls(allowed)), "the rule's one allowed call site moved"
