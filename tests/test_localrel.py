"""functions/localrel.py — the pure-JVM tiny local relation (round-13
optimization: createDataFrame(list) plans scan a Python-pickled RDD whose
WRITE costs ~4 s at local[32]; local_rows_df builds the same rows as JVM
literals). These tests pin value/schema equivalence and the fallbacks."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F

from dataworks_audit_data_ingest_spark.functions.localrel import (
    _MAX_LITERAL_ROWS,
    local_rows_df,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_createDataFrame_values_and_schema(spark):
    rows = [
        ("a", 1, 1.5, True, None),
        ("b", None, None, None, datetime.datetime(2031, 3, 1, 12, 0)),
    ]
    ddl = "s string, i bigint, d double, b boolean, ts timestamp"
    fast = local_rows_df(spark, rows, ddl)
    slow = spark.createDataFrame(rows, ddl)
    # identical names and types; nullability may be TIGHTER (non-null
    # literals prove non-nullability — a safe subtype, see module doc)
    assert fast.dtypes == slow.dtypes
    for f_fast, f_slow in zip(fast.schema.fields, slow.schema.fields):
        assert f_slow.nullable or not f_fast.nullable
    assert _sorted_rows(fast) == _sorted_rows(slow)


def test_is_a_jvm_plan_not_a_python_rdd(spark):
    df = local_rows_df(spark, [("x",), ("y",)], "dir string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Scan ExistingRDD" not in plan


def test_empty_rows_fall_back(spark):
    df = local_rows_df(spark, [], "dir string")
    assert df.columns == ["dir"]
    assert df.count() == 0


def test_large_row_sets_fall_back_to_createDataFrame(spark):
    n = _MAX_LITERAL_ROWS + 1
    df = local_rows_df(spark, [(i,) for i in range(n)], "i bigint")
    assert df.count() == n
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # the slow-but-general path


def test_joins_and_writes_like_any_dataframe(spark, tmp_path):
    dim = local_rows_df(
        spark,
        [("low", 0, 10), ("high", 10, 100)],
        "band string, lo bigint, hi bigint",
    )
    fact = spark.range(20).select(F.col("id").alias("v"))
    joined = fact.join(
        F.broadcast(dim), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    )
    assert joined.groupBy("band").count().count() == 2
    dim.coalesce(1).write.parquet(str(tmp_path / "dim.parquet"))
    assert _sorted_rows(spark.read.parquet(str(tmp_path / "dim.parquet"))) == (
        _sorted_rows(dim)
    )


def test_row_objects_are_positional(spark):
    src = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    rows = src.collect()
    back = local_rows_df(spark, rows, src.schema)
    assert _sorted_rows(back) == _sorted_rows(src)


def test_inexpressible_values_fall_back(spark):
    # a dict value has no lit() form -> must still work via createDataFrame
    df = local_rows_df(
        spark, [({"a": 1},)], "m map<string,bigint>"
    )
    assert df.collect()[0][0] == {"a": 1}


@pytest.mark.parametrize("bad", [[("only",)]])
def test_arity_mismatch_raises(spark, bad):
    with pytest.raises(Exception):
        local_rows_df(spark, bad, "a string, b string").collect()


def test_extra_fields_raise_like_createDataFrame(spark):
    """A row LONGER than the schema must error (createDataFrame's length
    verifier), never silently truncate (code-review round 13)."""
    with pytest.raises(Exception):
        local_rows_df(spark, [(1, 2)], "a bigint").collect()


def test_wrong_typed_value_raises_at_construction(spark):
    """A value of the wrong Python type for a scalar field must take the
    createDataFrame path and raise its construction-time verifier error —
    the literal path's cast would only fail at ACTION time, and on an
    ANSI-off session would become a silent NULL (code-review round 13)."""
    with pytest.raises(Exception):
        df = local_rows_df(spark, [("abc",)], "i bigint")
        df.collect()


def test_wrong_type_never_silently_nulls_even_ansi_off(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception):
            local_rows_df(spark, [("abc",)], "i bigint").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _outcome(build):
    """``("ok", rows)`` or ``("err", exception class)`` of building and
    collecting a frame — errors at construction and at action alike."""
    try:
        return "ok", _sorted_rows(build())
    except Exception as e:  # noqa: BLE001 — the class is the outcome
        return "err", type(e).__name__


def _same_as_createDataFrame(spark, rows, ddl, confs=None):
    """Under ANSI on and off (plus ``confs``), ``local_rows_df`` gives what
    ``createDataFrame`` gives: the same rows, or the same error class."""
    for ansi in ("true", "false"):
        settings = {"spark.sql.ansi.enabled": ansi, **(confs or {})}
        prev = {k: spark.conf.get(k) for k in settings}
        for k, v in settings.items():
            spark.conf.set(k, v)
        try:
            want = _outcome(lambda: spark.createDataFrame(rows, ddl))
            got = _outcome(lambda: local_rows_df(spark, rows, ddl))
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        assert got == want, (ansi, got, want)


@pytest.mark.parametrize(
    "value, ddl",
    [(2**40, "i int"), (300, "b tinyint"), (-(2**15) - 1, "s smallint"),
     (2**63, "l bigint")],
)
def test_out_of_range_integral_is_never_wrapped(spark, value, ddl):
    """ANSI off, the literal cast wraps: ``2**40`` as ``int`` read 0."""
    _same_as_createDataFrame(spark, [(value,)], ddl)


@pytest.mark.parametrize(
    "value",
    [decimal.Decimal("123.456"), decimal.Decimal("100"), decimal.Decimal("1.005"),
     decimal.Decimal("NaN"), 12],
)
def test_decimal_outside_precision_is_never_nulled(spark, value):
    """ANSI off, the literal cast NULLs a decimal over precision, where
    createDataFrame raises; an ``int`` is not a decimal to it either."""
    _same_as_createDataFrame(spark, [(value,)], "d decimal(4,2)")


def test_decimal_within_precision_stays_a_literal(spark):
    rows = [(decimal.Decimal("12.34"),), (decimal.Decimal("-0.5"),)]
    _same_as_createDataFrame(spark, rows, "d decimal(4,2)")
    plan = local_rows_df(spark, rows, "d decimal(4,2)")._jdf.queryExecution()
    assert "ExistingRDD" not in plan.executedPlan().toString()


def test_timestamp_ntz_keeps_its_wall_clock(spark):
    """``lit(datetime)`` is a zoned timestamp: cast to NTZ it moved by the
    session time zone's offset."""
    rows = [(datetime.datetime(2020, 1, 1, 12, 0),)]
    _same_as_createDataFrame(
        spark, rows, "t timestamp_ntz", {"spark.sql.session.timeZone": "America/New_York"}
    )


def test_dict_rows_match_fields_by_name(spark):
    """A dict row used to raise ``KeyError(0)`` on the literal path."""
    rows = [{"b": "x", "a": 1}, {"a": 2, "b": "y"}]
    _same_as_createDataFrame(spark, rows, "a int, b string")
