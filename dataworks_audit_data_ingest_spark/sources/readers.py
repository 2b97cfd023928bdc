"""Batch source readers.

The reference's only source is an HDFS directory of opaque files
(`audit_data_ingest.py:129-150`); the engine generalizes to the formats the
analytical layer reads after decrypt (JSON audit payloads per
`tests/data/audit-data-1.json`), plus columnar fixtures. All readers take
explicit schemas where inference would mean an extra data pass — at 100 TB
schema inference is a full scan you don't want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import tune
from ..tables import table as _table


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture-table reader (type-normalizing, see tables.py)."""
    return _table(spark, sf_dir, name)


def read_binary_dir(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-as-record reader: (path, basename, day, length, content) rows —
    the reference's data model as a DataFrame (SURVEY.md §1.4); ``day`` is
    the file's top-level dated directory, as in ingest."""
    from ..ingest.pipeline import scan_source

    return scan_source(spark, src_dir)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """JSON-lines reader with mandatory schema (no inference pass)."""
    tune(spark)
    return spark.read.schema(schema).json(path)


def read_events_json(spark: SparkSession, path: str) -> DataFrame:
    """Audit-event JSON reader sharing the streaming source's schema, so the
    batch and streaming paths parse identically."""
    from ..streaming.jobs import EVENT_SCHEMA

    return read_json(spark, path, EVENT_SCHEMA)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV reader with mandatory schema."""
    tune(spark)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .csv(path)
    )


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: StructType | str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON read split into (good, quarantined) — corrupt lines
    land in the quarantine frame with their raw text instead of failing the
    job, the batch twin of the Kafka parse policy (streaming/kafka.py)."""
    tune(spark)
    # copy before .add: StructType.add mutates in place, and the caller's
    # schema must not permanently grow a _corrupt_record field
    schema_with_corrupt = (
        spark.read.schema(schema).json(path).schema.add("_corrupt_record", "string")
        if not isinstance(schema, StructType)
        else StructType(list(schema.fields)).add("_corrupt_record", "string")
    )
    df = (
        spark.read.schema(schema_with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, bad


def read_orc(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """ORC reader (columnar interchange with Hive-era warehouses — built
    into Spark, no external jar). Schema optional: ORC files carry types.
    Avro, by contrast, needs the external spark-avro package at submit
    time (``--packages org.apache.spark:spark-avro_2.13:<version>``)."""
    tune(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_parquet_store_or_none(
    spark: SparkSession, store_path: str
) -> DataFrame | None:
    """Incremental-store reader: ``None`` when the store doesn't exist yet
    (first batch), the DataFrame otherwise — and real read errors PROPAGATE.

    The incremental dedup/index jobs used to wrap their store read in a
    bare ``except Exception: first batch``, which treated corrupt parquet,
    permission errors, and transient IO the same as 'no store yet' —
    silently skipping cross-batch dedup and admitting duplicates for that
    batch. Only the path-missing case means first batch; everything else
    is a failure the job must surface."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(store_path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        klass = cond() if cond else ""
        if klass == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return None
        raise
    except Py4JJavaError as e:  # some FS layers raise FileNotFound via JVM
        if "FileNotFoundException" in str(e):
            return None
        raise


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows"
) -> None:
    """XML writer — native in Spark 4 (SPARK-44265 folded spark-xml into
    the distribution; no external jar, unlike Avro)."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | str | None = None,
) -> DataFrame:
    """Native XML reader (Spark 4). ALWAYS pass ``schema`` in production:
    XML carries no types, so inference is a full extra pass over the data
    AND coerces per-file — at 100 TB that is both a second scan and a
    schema-drift hazard. The q255 round-trip pins explicit-schema reads."""
    tune(spark)
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
