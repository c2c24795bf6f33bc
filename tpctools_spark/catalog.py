"""Table loaders: every query-path Parquet read goes through here.

One call per table; scans stay lazy so Catalyst prunes columns and pushes
predicates into the parquet reader (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).

Read contract: a read hands the reader a schema declared in
:mod:`tpctools_spark.schemas` / :mod:`tpctools_spark.schemas_tpcds`, as
the reference does (``src/lib.rs:55-58``). A bare ``spark.read.parquet``
launches one schema-inference job per call (on Spark 4.1.2, 4 local
cores: about 100 ms per table, against about 20 ms with a schema), so a
declared read keeps query building job-free. :func:`read` picks the
declared schema for a table name whose column names and exact Parquet
types equal the first data file's footer, which is what tells the
layouts apart:

- fixture layout, ``<sf_dir>/<t>.parquet`` files: ``TESTDATA``;
- TPC-H generator layout, ``<dir>/<t>.parquet/`` (``generate``,
  ``convert``) or ``<dir>/<t>/`` (the spec-form queries in
  ``tpch_generated``): ``TPCH_PARQUET``;
- TPC-DS generator layout (``tpcds_demo*``): ``TPCDS``.

Spark's inference remains where no declared schema matches: an events
file whose ``ts`` is ``TIMESTAMP(NANOS)`` (read through ``nanosAsLong``),
corpora written with other columns or types, partitioned directories
and non-local paths. Queries that read back what they just wrote
(``scans``, ``scale_patterns``, ``streaming_demo``) also still infer.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from tpctools_spark.schemas import TESTDATA, TESTDATA_TABLE_NAMES, TPCH_PARQUET
from tpctools_spark.schemas_tpcds import TPCDS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every layout's declared schemas, in the order a footer is tried.
_REGISTRIES = (TESTDATA, TPCH_PARQUET, TPCDS)

# Spark type → the Arrow type pyarrow reports for the Parquet column
# Spark writes for it (timestamps, decimals and arrays are matched below).
_ARROW = {
    LongType: pa.int64(),
    IntegerType: pa.int32(),
    StringType: pa.string(),
    DoubleType: pa.float64(),
    FloatType: pa.float32(),
    DateType: pa.date32(),
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture (or TPC-H generator) table as a lazy DataFrame.

    Pins the session timezone to UTC: the fixtures' timestamps are naive
    UTC wall-clock (what DuckDB sees), and events.ts is reconstructed
    from epoch nanos as an LTZ value — without this pin a non-UTC caller
    session would render every event-time output shifted. A declared
    read types fixture timestamps as LTZ even when the caller's session
    refuses the ``inferTimestampNTZ`` pin below.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Fixture timestamps are physical timestamp[us] with no timezone tag.
    # Spark 4 infers those as TIMESTAMP_NTZ by default, which poisons
    # epoch arithmetic (unix_micros rejects NTZ) and diverges from the
    # LTZ semantics every query was validated under.  Under the UTC pin
    # the two types are value-identical, so read them as LTZ; unlike a
    # post-scan cast this keeps predicate pushdown on timestamp columns.
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:  # noqa: BLE001 — conf may be pinned by the caller
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = declared_schema(path, name)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    if name == "events":
        return _ltz(_events(spark, path))
    return _ltz(spark.read.parquet(path))


def read(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read table ``name`` at ``path`` with its declared schema, or with
    Spark's inference when none matches the footer."""
    schema = declared_schema(path, name)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def declared_schema(path: str, name: str) -> StructType | None:
    """The declared schema of table ``name`` whose column names and
    Parquet types equal the footer of the first data file under ``path``,
    or None (no such file on the local file system, no readable footer,
    or no match). On None the caller's inference read reports any error
    the way Spark always has."""
    first = _first_data_file(path)
    if first is None:
        return None
    try:
        footer = pq.read_schema(first)
    except (OSError, pa.ArrowException):
        return None
    for registry in _REGISTRIES:
        schema = registry.get(name)
        if schema is not None and _matches(footer, schema):
            return schema
    return None


def _first_data_file(path: str) -> str | None:
    """``path`` itself, or the first file of a flat directory, skipping
    the names Spark skips (``_SUCCESS``, ``.crc``). A subdirectory first
    means a partitioned layout, whose columns no footer holds."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    for entry in sorted(os.scandir(path), key=lambda e: e.name):
        if not entry.name.startswith(("_", ".")):
            return entry.path if entry.is_file() else None
    return None


def _matches(footer: pa.Schema, schema: StructType) -> bool:
    return footer.names == schema.fieldNames() and all(
        _same_type(f.type, d.dataType) for f, d in zip(footer, schema.fields)
    )


def _same_type(arrow: pa.DataType, spark: DataType) -> bool:
    """Exact: a ``TIMESTAMP(NANOS)`` column (``timestamp[ns]``) never
    matches ``TimestampType``, whose Parquet unit is microseconds."""
    if isinstance(spark, TimestampType):
        return pa.types.is_timestamp(arrow) and arrow.unit == "us"
    if isinstance(spark, DecimalType):
        return pa.types.is_decimal(arrow) and (arrow.precision, arrow.scale) == (
            spark.precision,
            spark.scale,
        )
    if isinstance(spark, ArrayType):
        return pa.types.is_list(arrow) and _same_type(arrow.value_type, spark.elementType)
    return arrow == _ARROW.get(type(spark))


def _ltz(df: DataFrame) -> DataFrame:
    """Defense-in-depth: cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Normally a no-op — the inferTimestampNTZ pin above makes the scan
    produce LTZ directly, preserving timestamp predicate pushdown. But a
    caller-owned session can pin that conf (or reject conf.set), and an
    NTZ column then poisons every epoch-arithmetic expression downstream
    (``unix_micros`` rejects NTZ — the round-3 driver run lost two
    queries to exactly this). Under the UTC session pin the cast is
    value-identical.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts as parquet TIMESTAMP(NANOS), which Spark's reader rejects.

    Read the physical int64 via ``nanosAsLong`` and truncate ns→µs into a
    proper timestamp — the identical truncation DuckDB applies when it
    reads nanos, so both engines see the same microsecond instants.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf may be pinned by the caller
        pass
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table present in ``sf_dir`` (through
    :func:`table`, so events gets its nanos handling)."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for ``spark.sql`` —
    the raw-SQL entry point of the engine."""
    for name, df in tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
