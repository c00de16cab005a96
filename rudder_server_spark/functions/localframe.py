"""Driver-local DataFrames as Arrow ``LocalRelation``s.

``spark.createDataFrame(list, schema)`` pickles the list into a Python
RDD, so every scan, broadcast or collect of the frame forks a Python
worker — one round per slice it reads (SCALE.md, Round 11). Every
bounded relation the engine builds on the driver (config dimensions,
union-find mappings, landed counts, probe tables) goes through
:func:`local_frame` instead, which hands Spark a pyarrow Table. Spark
plans that as a ``LocalRelation`` up to
``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
default) and above it as an Arrow-batch RDD the JVM reads alone, so no
size of driver frame needs a Python worker, and a collect of a
``LocalRelation`` runs on the driver with no Spark job. There are no
slices to size: Spark spreads a ``LocalRelation`` over
``defaultParallelism`` and its tasks are JVM-only.

Values keep ``createDataFrame``'s meaning: each row passes PySpark's own
type verifier and ``toInternal`` conversion before it reaches Arrow, so
a naive ``datetime`` still means the process's local time.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as an Arrow LocalRelation
    (see module docstring). ``rows`` is an iterable of tuples, ``Row``s
    or dicts; ``schema`` is a DDL string or StructType."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    verify, to_tuple = _make_type_verifier(struct), _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(to_tuple(row)))
    # pyarrow takes the internal forms as they are: epoch microseconds for
    # timestamps (UTC in the Arrow schema), days for dates, tuples for structs
    arrow = to_arrow_schema(struct)
    columns = zip(*internal) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
