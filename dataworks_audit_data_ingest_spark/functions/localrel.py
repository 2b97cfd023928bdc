"""Pure-JVM local relations for tiny driver-side row sets.

``spark.createDataFrame(list_of_rows)`` parallelizes the PICKLED rows
into Python-worker tasks — the plan scans an ``ExistingRDD`` whose every
evaluation round-trips through Python workers. For the handful-of-rows
relations this engine builds on hot paths (compaction fold manifests,
forget-intent metadata, audit rows, retraction-touched group sets, tiny
broadcast dimensions) that cost is pathological: a 2-row manifest WRITE
measured 4.3 s steady-state at local[32] (the write job schedules one
Python-worker round trip per parallelize slice), where the identical
rows as a JVM literal plan write in 0.15 s — 28×.

:func:`local_rows_df` builds the same DataFrame as ``range(1) →
explode(array(struct-literals))``: a whole-stage-codegen JVM plan, no
Python workers, no pickling — and values are bound as typed literals
(``lit(...).cast(field type)``), so there is no injection surface and
NULLs land typed. Row sets larger than ``_MAX_LITERAL_ROWS`` (or values
``lit`` cannot express) fall back to ``createDataFrame`` unchanged —
a giant literal expression tree would trade worker cost for planning
cost (guide §7.3).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

_MAX_LITERAL_ROWS = 200

# Python-side type verification for the common scalar field types,
# mirroring createDataFrame's construction-time checks: a wrong-typed
# value must NOT reach lit().cast() — the cast error would only surface
# at action time, and on an ANSI-off session would become a silent NULL
# (a NULLed fold-manifest dir or audit row, with no error anywhere) or a
# wrapped integer (``2**40`` cast to ``int`` is 0). A value outside this
# table, outside its type's range, or of a field type not listed falls
# back to createDataFrame, which raises its usual verifier error.
# TimestampNTZType is not listed: ``lit(datetime)`` is a zoned timestamp,
# so its cast to NTZ shifts the wall clock by the session time zone.
_SCALAR_OK = (
    (T.StringType, str),
    (T.BooleanType, bool),
    ((T.ByteType, T.ShortType, T.IntegerType, T.LongType), int),
    ((T.FloatType, T.DoubleType), (int, float)),
    (T.DecimalType, _decimal.Decimal),
    (T.TimestampType, _dt.datetime),
    (T.DateType, (_dt.date,)),
    (T.BinaryType, (bytes, bytearray)),
)

_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _in_range(v, dtype) -> bool:
    """Whether ``v`` is held exactly by ``dtype``: integrals within their
    width, decimals within precision and scale without rounding."""
    bits = _INT_BITS.get(type(dtype))
    if bits is not None:
        return -(1 << (bits - 1)) <= v < 1 << (bits - 1)
    if isinstance(dtype, T.DecimalType):
        if not v.is_finite():
            return False
        _, digits, exp = v.as_tuple()
        integral_digits = len(digits) + exp
        return exp >= -dtype.scale and integral_digits <= dtype.precision - dtype.scale
    return True


def _value_ok(v, dtype) -> bool:
    if v is None:
        return True
    for dts, pys in _SCALAR_OK:
        if isinstance(dtype, dts):
            # bool is an int subclass; only BooleanType may take it
            if isinstance(v, bool) and not isinstance(dtype, T.BooleanType):
                return False
            return isinstance(v, pys) and _in_range(v, dtype)
    return False  # non-scalar field types take the general slow path


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``createDataFrame(rows, schema)`` semantics, as a pure-JVM plan
    when the row set is small enough (see module docstring). Tuples and
    Rows are positional and must match the schema's arity; dict rows are
    matched by name through ``createDataFrame``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if not rows or len(rows) > _MAX_LITERAL_ROWS:
        return spark.createDataFrame(rows, schema)
    # Fall back (and let createDataFrame raise its standard errors) on a
    # row that is not positional (a dict maps fields by name), an arity
    # mismatch or any value the scalar-type table does not bless — the
    # literal path must never silently truncate, wrap or NULL a row.
    n = len(schema.fields)
    positional = all(isinstance(row, (tuple, list)) and len(row) == n for row in rows)
    if not positional or any(
        not _value_ok(row[i], f.dataType)
        for row in rows
        for i, f in enumerate(schema.fields)
    ):
        return spark.createDataFrame(rows, schema)
    # Types and values match createDataFrame exactly; a field whose
    # literals are all non-null may come out non-nullABLE where
    # createDataFrame would say nullable — a strictly tighter schema,
    # accepted everywhere a nullable field is (parquet write, unions,
    # joins), and parquet read-back normalizes to nullable anyway.
    try:
        structs = [
            F.struct(
                *[
                    F.lit(row[i]).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(schema.fields)
                ]
            )
            for row in rows
        ]
        return (
            spark.range(1)
            .select(F.explode(F.array(*structs)).alias("__row__"))
            .select("__row__.*")
            .to(schema)
        )
    except Exception:
        # a value lit() cannot express (maps, exotic nested types —
        # surfaces either at lit() or at plan analysis) — the slow path
        # is still the correct one
        return spark.createDataFrame(rows, schema)
