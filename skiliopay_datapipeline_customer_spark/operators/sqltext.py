"""Spark SQL literal rendering for expression trees built as SQL text.

The hot expression trees (the rank boundary when-tree, the LSH banding
fold) are built as SQL text and parsed JVM-side in one py4j round trip
instead of hundreds of Column-builder calls. Every constant they embed is
rendered here, from the value AND its Spark type, into text that parses
back to the identical value — or the call raises. It never guesses and
never returns None.
"""

from __future__ import annotations

import math

from pyspark.sql import types as T

# every type sql_literal renders; anything else raises TypeError
LITERAL_TYPES = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.DecimalType,
    T.DateType,
    T.TimestampNTZType,
    T.TimestampType,
    T.BinaryType,
)


def sql_literal(value, dtype: T.DataType) -> str:
    """Exact Spark SQL literal for ``value`` collected from a ``dtype``
    column.

    - integers render as BIGINT (``L``): comparisons against narrower
      integer columns widen exactly;
    - float and double render as a double: ``repr`` is CPython's shortest
      round-trip decimal and Java's ``Double.parseDouble`` of it returns
      the identical bits (float values widen to double exactly); NaN and
      ±inf go through an explicit CAST because bare tokens for them don't
      parse; -0.0 keeps its sign;
    - Decimal renders as ``CAST('…' AS DECIMAL(p,s))`` at the column's own
      precision and scale;
    - ``timestamp`` (LTZ) values are EPOCH MICROSECONDS (int), rendered
      as ``timestamp_micros(n)``: PySpark collects an LTZ timestamp as a
      naive datetime in the Python process's local zone, which drops the
      DST fold, so callers sample ``unix_micros(col)`` instead — exact
      under any ``spark.sql.session.timeZone``;
    - ``timestamp_ntz`` and ``date`` render as typed literals, binary as
      ``X'…'``, None as a typed NULL.
    """
    if not isinstance(dtype, LITERAL_TYPES):
        raise TypeError(f"no exact Spark SQL literal for type {dtype.simpleString()}")
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.BooleanType):
        return "TRUE" if value else "FALSE"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"{int(value)}L"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        v = float(value)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'' if v > 0 else '-'}Infinity' AS DOUBLE)"
        return repr(v).upper() + "D"
    if isinstance(dtype, T.StringType):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dtype, T.DecimalType):
        return f"CAST('{value:f}' AS DECIMAL({dtype.precision},{dtype.scale}))"
    if isinstance(dtype, T.DateType):
        return f"DATE'{value.isoformat()}'"
    if isinstance(dtype, T.TimestampNTZType):
        return f"TIMESTAMP_NTZ'{value.isoformat(sep=' ')}'"
    if isinstance(dtype, T.TimestampType):
        return f"timestamp_micros({int(value)}L)"
    return f"X'{bytes(value).hex()}'"
