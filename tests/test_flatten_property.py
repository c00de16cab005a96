"""Property test (SURVEY §5.3's differential-fuzz analog): random events
with consistent per-key types → flatten is lossless — every scalar leaf at
depth ≤ 3 reappears in its snake_cased column with the inferred type.
"""

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rudder_server_spark.operators.flatten import flatten_events

KEYS = ["alpha", "betaKey", "gamma_x", "deltaV", "omega"]

scalar_schema = st.sampled_from(["int", "float", "bool", "str"])


@st.composite
def payload_schema(draw):
    """A type-consistent schema: {key: scalar_type | {subkey: scalar_type}}."""
    n = draw(st.integers(1, 4))
    schema = {}
    for k in KEYS[:n]:
        if draw(st.booleans()):
            schema[k] = draw(scalar_schema)
        else:
            m = draw(st.integers(1, 3))
            schema[k] = {sk: draw(scalar_schema) for sk in KEYS[:m]}
    return schema


def _value(draw, typ, allow_null):
    if allow_null and draw(st.integers(0, 4)) == 0:
        return None
    if typ == "int":
        return draw(st.integers(-10**6, 10**6))
    if typ == "float":
        return draw(
            st.floats(allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6)
        )
    if typ == "bool":
        return draw(st.booleans())
    return draw(st.text(alphabet="abcdefgh", min_size=1, max_size=8))


@st.composite
def corpus(draw):
    schema = draw(payload_schema())
    rows = []
    n_rows = draw(st.integers(3, 12))
    for i in range(n_rows):
        props = {}
        for k, t in schema.items():
            if isinstance(t, dict):
                sub = {sk: _value(draw, stt, allow_null=i > 0) for sk, stt in t.items()}
                props[k] = sub
            else:
                props[k] = _value(draw, t, allow_null=i > 0)
        rows.append(props)
    # row 0 has no nulls so every column survives discovery (null-skip drops
    # all-null leaves, which is the declared behavior, not loss)
    return schema, rows


def _expected_cols(schema, prefix="properties"):
    from rudder_server_spark.functions.names import safe_column_name

    out = {}
    for k, t in schema.items():
        if isinstance(t, dict):
            for sk, stt in t.items():
                out[safe_column_name(f"{prefix}_{k}_{sk}")] = (["properties", k, sk], stt)
        else:
            out[safe_column_name(f"{prefix}_{k}")] = (["properties", k], t)
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=corpus())
def test_flatten_lossless(spark, data):
    schema, rows = data
    df = spark.createDataFrame(
        [(i, json.dumps({"properties": r})) for i, r in enumerate(rows)],
        "idx long, payload string",
    )
    flat = flatten_events(df, keep_cols=("idx",), promote=set()).collect()
    by_idx = {r["idx"]: r for r in flat}
    expected = _expected_cols(schema)
    for i, props in enumerate(rows):
        row = by_idx[i]
        for col, (path, typ) in expected.items():
            want = props[path[1]] if len(path) == 2 else props[path[1]][path[2]]
            got = row[col]
            if want is None:
                assert got is None, (col, got)
            elif typ == "float":
                # int+float rows under one key consolidate to double
                assert got == float(want), (col, got, want)
            elif typ == "int":
                # an all-int column infers bigint; exact
                assert got == want or got == float(want), (col, got, want)
            else:
                assert got == want, (col, got, want)


# ---------------------------------------------------------------------------
# Router throttle invariants (q37's operator) under random job batches


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_throttle_pickup_invariants(spark, data):
    """For ANY job batch: (1) per (dest, window) picked == min(cap, group
    size); (2) picked ∪ deferred partitions the batch; (3) the picked set
    is the (ts, id)-earliest prefix of each group."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rudder_server_spark.operators.router import throttle_pickup

    base = dt.datetime(2024, 3, 1)
    n = data.draw(st.integers(1, 60))
    rows = [
        (
            data.draw(st.sampled_from(["a", "b", "c"])),
            base + dt.timedelta(
                days=data.draw(st.integers(0, 2)),
                minutes=data.draw(st.integers(0, 1000)),
            ),
            i,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "dest string, ts timestamp, job_id long")
    cap = data.draw(st.integers(1, 10))
    out = throttle_pickup(
        df, dest_col="dest", ts_col="ts", order_col="job_id",
        caps={"b": max(1, cap // 2)}, default_cap=cap, window="day",
    ).collect()

    assert len(out) == n  # partition: every job appears exactly once
    by_group = {}
    for r in out:
        by_group.setdefault((r["dest"], r["window_start"]), []).append(r)
    for (dest, _), grp in by_group.items():
        c = max(1, cap // 2) if dest == "b" else cap
        picked = [r for r in grp if r["picked"]]
        assert len(picked) == min(c, len(grp))
        # earliest-prefix property: every picked sorts before every deferred
        key = lambda r: (r["ts"], r["job_id"])
        if len(picked) < len(grp):
            worst_picked = max(key(r) for r in picked)
            best_deferred = min(key(r) for r in grp if not r["picked"])
            assert worst_picked < best_deferred
