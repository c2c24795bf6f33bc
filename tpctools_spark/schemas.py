"""Explicit schema registry — schemas are declared, never inferred.

Mirrors the reference's hard-coded schema approach
(``/root/reference/src/tpch.rs:140-241``: ``get_schema`` returns an explicit
Arrow Schema handed to the CSV reader with no inference). Two schema sets:

- ``TPCH_REFERENCE``: full reference-parity TPC-H schemas (8 tables,
  signed-int keys, Decimal(11,2) money, Date32 dates) used by the
  generator/converter (``tpctools_spark.generate`` / ``convert``). The
  trailing nullable ``ignore`` column the reference carries into parquet
  (``src/tpch.rs:156`` etc.) is modeled for CSV scanning but dropped at
  conversion time (SURVEY.md §1.3 deviation, by design). ``TPCH_PARQUET``
  is what the generator and converter therefore write: the same schemas
  without ``ignore``.
- ``TESTDATA``: the driver's fixture schemas (FIXTURES.md) — doubles for
  money, timestamps for dates, plus the extension tables
  (events/documents/embeddings). ``generate_corpus`` writes documents
  and embeddings in these schemas too; its events carry Spark's default
  INT96 timestamps, which no declared schema matches.

Read contract: query-path Parquet reads (:mod:`tpctools_spark.catalog`)
hand one of these schemas (or ``schemas_tpcds.TPCDS``) to the reader, so
building a query launches no schema-inference job. The reader picks the
schema whose names and exact Parquet types equal the first data file's
footer:

- fixture layout (``<sf_dir>/<t>.parquet`` files): ``TESTDATA``;
- TPC-H generator layout (``generate.generate`` and ``convert`` output,
  also read by the spec-form queries as ``<dir>/<t>``): ``TPCH_PARQUET``;
- TPC-DS generator layout: ``TPCDS``.

Nullability is not part of the match: Spark reads every file-source
column as nullable, declared or inferred. Data no schema here describes
(a ``TIMESTAMP(NANOS)`` events file, a hand-written test corpus, a
non-local path) is still read with Spark's inference.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType(
        [StructField(name, dtype, nullable) for name, dtype, nullable in fields]
    )


MONEY = DecimalType(11, 2)  # reference: Decimal128(11,2), src/tpch.rs:154 etc.

# --- Reference-parity TPC-H schemas (src/tpch.rs:146-237). The `ignore`
# column models dbgen's trailing '|' delimiter; it exists only for CSV
# scanning and is dropped by the converter.
TPCH_REFERENCE: dict[str, StructType] = {
    "part": _st(
        ("p_partkey", LongType(), False),
        ("p_name", StringType(), False),
        ("p_mfgr", StringType(), False),
        ("p_brand", StringType(), False),
        ("p_type", StringType(), False),
        ("p_size", IntegerType(), False),
        ("p_container", StringType(), False),
        ("p_retailprice", MONEY, False),
        ("p_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "supplier": _st(
        ("s_suppkey", LongType(), False),
        ("s_name", StringType(), False),
        ("s_address", StringType(), False),
        ("s_nationkey", LongType(), False),
        ("s_phone", StringType(), False),
        ("s_acctbal", MONEY, False),
        ("s_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "partsupp": _st(
        ("ps_partkey", LongType(), False),
        ("ps_suppkey", LongType(), False),
        ("ps_availqty", IntegerType(), False),
        ("ps_supplycost", MONEY, False),
        ("ps_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "customer": _st(
        ("c_custkey", LongType(), False),
        ("c_name", StringType(), False),
        ("c_address", StringType(), False),
        ("c_nationkey", LongType(), False),
        ("c_phone", StringType(), False),
        ("c_acctbal", MONEY, False),
        ("c_mktsegment", StringType(), False),
        ("c_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "orders": _st(
        ("o_orderkey", LongType(), False),
        ("o_custkey", LongType(), False),
        ("o_orderstatus", StringType(), False),
        ("o_totalprice", MONEY, False),
        ("o_orderdate", DateType(), False),
        ("o_orderpriority", StringType(), False),
        ("o_clerk", StringType(), False),
        ("o_shippriority", IntegerType(), False),
        ("o_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType(), False),
        ("l_partkey", LongType(), False),
        ("l_suppkey", LongType(), False),
        ("l_linenumber", IntegerType(), False),
        ("l_quantity", MONEY, False),
        ("l_extendedprice", MONEY, False),
        ("l_discount", MONEY, False),
        ("l_tax", MONEY, False),
        ("l_returnflag", StringType(), False),
        ("l_linestatus", StringType(), False),
        ("l_shipdate", DateType(), False),
        ("l_commitdate", DateType(), False),
        ("l_receiptdate", DateType(), False),
        ("l_shipinstruct", StringType(), False),
        ("l_shipmode", StringType(), False),
        ("l_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "nation": _st(
        ("n_nationkey", LongType(), False),
        ("n_name", StringType(), False),
        ("n_regionkey", LongType(), False),
        ("n_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
    "region": _st(
        ("r_regionkey", LongType(), False),
        ("r_name", StringType(), False),
        ("r_comment", StringType(), False),
        ("ignore", StringType(), True),
    ),
}

TPCH_TABLE_NAMES = list(TPCH_REFERENCE)  # parity: src/tpch.rs:134-138

# What ``generate`` and ``convert`` write: the reference schemas without
# the CSV-only ``ignore`` column.
TPCH_PARQUET: dict[str, StructType] = {
    name: StructType([f for f in s.fields if f.name != "ignore"])
    for name, s in TPCH_REFERENCE.items()
}


# --- Driver fixture schemas (FIXTURES.md; read from parquet footers).
TESTDATA: dict[str, StructType] = {
    "region": _st(
        ("r_regionkey", IntegerType(), True),
        ("r_name", StringType(), True),
    ),
    "nation": _st(
        ("n_nationkey", IntegerType(), True),
        ("n_name", StringType(), True),
        ("n_regionkey", IntegerType(), True),
    ),
    "customer": _st(
        ("c_custkey", LongType(), True),
        ("c_name", StringType(), True),
        ("c_nationkey", IntegerType(), True),
        ("c_acctbal", DoubleType(), True),
        ("c_mktsegment", StringType(), True),
    ),
    "supplier": _st(
        ("s_suppkey", LongType(), True),
        ("s_name", StringType(), True),
        ("s_nationkey", IntegerType(), True),
        ("s_acctbal", DoubleType(), True),
    ),
    "part": _st(
        ("p_partkey", LongType(), True),
        ("p_name", StringType(), True),
        ("p_brand", StringType(), True),
        ("p_type", StringType(), True),
        ("p_size", IntegerType(), True),
        ("p_retailprice", DoubleType(), True),
    ),
    "orders": _st(
        ("o_orderkey", LongType(), True),
        ("o_custkey", LongType(), True),
        ("o_orderstatus", StringType(), True),
        ("o_totalprice", DoubleType(), True),
        ("o_orderdate", TimestampType(), True),
        ("o_orderpriority", StringType(), True),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType(), True),
        ("l_partkey", LongType(), True),
        ("l_suppkey", LongType(), True),
        ("l_linenumber", IntegerType(), True),
        ("l_quantity", DoubleType(), True),
        ("l_extendedprice", DoubleType(), True),
        ("l_discount", DoubleType(), True),
        ("l_tax", DoubleType(), True),
        ("l_returnflag", StringType(), True),
        ("l_linestatus", StringType(), True),
        ("l_shipdate", TimestampType(), True),
    ),
    "events": _st(
        ("event_id", LongType(), True),
        ("ts", TimestampType(), True),
        ("user_id", LongType(), True),
        ("event_type", StringType(), True),
        ("value", DoubleType(), True),
        ("props", StringType(), True),
    ),
    "documents": _st(
        ("doc_id", LongType(), True),
        ("text", StringType(), True),
        ("lang", StringType(), True),
        ("source", StringType(), True),
        ("n_chars", LongType(), True),
    ),
    "embeddings": _st(
        ("vec_id", LongType(), True),
        ("embedding", ArrayType(FloatType(), True), True),
        ("label", IntegerType(), True),
    ),
}

TESTDATA_TABLE_NAMES = list(TESTDATA)
