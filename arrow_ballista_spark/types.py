"""Arrow ↔ Spark type mapping — the §1.2 contract in one place.

The reference's type system is the full Arrow set serialized in
``ballista/core/proto/datafusion.proto:863-898`` (``ArrowType`` oneof).
This module encodes the documented mapping (SURVEY.md §1.2) including the
one policy decision Spark forces: **unsigned integers widen to the next
signed type** (the reference's own TPC-H schemas already use signed ints
"so generated Parquet can be used by Spark",
``benchmarks/src/bin/tpch.rs:862-864``):

    uint8 → short, uint16 → int, uint32 → long, uint64 → decimal(20,0)

plus: f16 → float, ns-timestamps → (N)TZ microseconds, date64 → date,
time/duration → long nanos, dictionary → its value type, large_* → plain.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T


def to_spark_type(dt: pa.DataType) -> T.DataType:
    if pa.types.is_dictionary(dt):
        return to_spark_type(dt.value_type)  # storage detail in Spark
    if pa.types.is_boolean(dt):
        return T.BooleanType()
    if pa.types.is_int8(dt):
        return T.ByteType()
    if pa.types.is_int16(dt):
        return T.ShortType()
    if pa.types.is_int32(dt):
        return T.IntegerType()
    if pa.types.is_int64(dt):
        return T.LongType()
    # unsigned → widen to next signed (SURVEY §1.2 / §7 risk 2)
    if pa.types.is_uint8(dt):
        return T.ShortType()
    if pa.types.is_uint16(dt):
        return T.IntegerType()
    if pa.types.is_uint32(dt):
        return T.LongType()
    if pa.types.is_uint64(dt):
        return T.DecimalType(20, 0)
    if pa.types.is_float16(dt) or pa.types.is_float32(dt):
        return T.FloatType()
    if pa.types.is_float64(dt):
        return T.DoubleType()
    if pa.types.is_string(dt) or pa.types.is_large_string(dt):
        return T.StringType()
    if (
        pa.types.is_binary(dt)
        or pa.types.is_large_binary(dt)
        or pa.types.is_fixed_size_binary(dt)
    ):
        return T.BinaryType()
    if pa.types.is_date(dt):  # date32 and date64
        return T.DateType()
    if pa.types.is_timestamp(dt):
        # unit truncates to Spark's µs; tz presence picks (N)TZ
        return T.TimestampType() if dt.tz else T.TimestampNTZType()
    if pa.types.is_time(dt) or pa.types.is_duration(dt):
        return T.LongType()  # no native Time in Spark → nanos since midnight
    if pa.types.is_decimal(dt):
        return T.DecimalType(dt.precision, dt.scale)
    if pa.types.is_list(dt) or pa.types.is_large_list(dt) or pa.types.is_fixed_size_list(dt):
        return T.ArrayType(to_spark_type(dt.value_type))
    if pa.types.is_map(dt):
        return T.MapType(to_spark_type(dt.key_type), to_spark_type(dt.item_type))
    if pa.types.is_struct(dt):
        return T.StructType(
            [
                T.StructField(f.name, to_spark_type(f.type), f.nullable)
                for f in dt
            ]
        )
    if pa.types.is_null(dt):
        return T.NullType()
    raise TypeError(f"no Spark mapping for Arrow type {dt} (UNION is unsupported)")


def to_spark_schema(schema: pa.Schema) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, to_spark_type(f.type), f.nullable)
            for f in schema
        ]
    )


def local_frame(spark, rows, schema: T.StructType | str):
    """Driver-computed ``rows`` (tuples in ``schema`` field order) as an
    in-JVM ``LocalRelation``: the rows become one ``pyarrow.Table`` and
    ``createDataFrame(pa.Table, schema)`` ships it as Arrow batches.
    ``createDataFrame(<python rows>)`` instead plans a ``LogicalRDD`` over
    pickled rows, so every consumer forks a Python worker to unpickle
    them: collecting a 22-row frame took 230-300 ms that way against
    30-40 ms this way (local[2] on a 4-core host).  Every driver-built
    table in the engine goes through here (``tests/test_driver_tables.py``
    guards it).

    NULLs (``None``) and an empty row list are kept; a value that does
    not fit its column raises a ``ValueError`` naming the column."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = []
    for i, field in enumerate(arrow_schema):
        try:
            columns.append(pa.array([r[i] for r in rows], type=field.type))
        except (
            pa.ArrowException, IndexError, OverflowError, TypeError, ValueError
        ) as e:
            raise ValueError(
                f"driver table column {field.name!r} "
                f"({schema[i].dataType.simpleString()}): {e}"
            ) from e
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )
