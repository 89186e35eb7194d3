"""Driver-built local frames through Arrow.

``spark.createDataFrame(<python list>, ddl)`` in classic PySpark becomes a
parallelized pickled RDD: Python workers unpickle it again every time a
plan reads the frame, so a small cell list or build table re-pays a
Python-worker decode on every pass.  ``local_frame`` builds a
``pyarrow.Table`` against the same schema instead; Spark hands an Arrow
table to the JVM (``PythonSQLUtils.toDataFrame``), which decodes it with no
Python worker, whatever the Arrow session conf says.

Every driver-side list → DataFrame in the package goes through here
(``tests/test_local_frame.py`` scans for stragglers).
"""

from __future__ import annotations

from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegralType, StructType, _parse_datatype_string


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: Union[str, StructType]) -> DataFrame:
    """DataFrame of the tuples ``rows`` under ``schema`` (a DDL string such
    as ``"tile_x INT, tile_y INT"`` or a ``StructType``).  Same schema and
    rows as ``spark.createDataFrame(list(rows), schema)``; a value that does
    not fit its column type (an out-of-range ``INT``, a str or a float in a
    ``LONG``) raises.  Zero rows give an empty frame of the same schema."""
    import pyarrow as pa  # imported here: session start-up does not pay for it
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    rows = list(rows)
    width = len(struct.fields)
    for row in rows:
        if len(row) != width:
            raise ValueError(f"row {row!r} has {len(row)} fields, schema {struct.simpleString()} has {width}")
    columns = list(zip(*rows)) if rows else [()] * width
    arrow_schema = to_arrow_schema(struct)
    arrays = []
    for field, arrow_field, values in zip(struct.fields, arrow_schema, columns):
        if isinstance(field.dataType, IntegralType) and any(isinstance(v, float) for v in values):
            # Arrow would truncate 1.5 to 1; the list path rejects it
            raise TypeError(f"field {field.name}: {field.dataType.simpleString()} can not accept a float")
        arrays.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), struct)
