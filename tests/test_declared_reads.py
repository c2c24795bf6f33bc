"""The read contract of ``catalog``: query-path Parquet reads pass a
declared schema, which must be exactly what Spark's inference would
have produced, and building a query must launch no Spark job."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tpctools_spark.catalog import _first_data_file, declared_schema, read, table
from tpctools_spark.schemas import TESTDATA, TPCH_PARQUET
from tpctools_spark.schemas_tpcds import TPCDS

FIXTURE_SFS = ["sf0.001", "sf0.01", "sf0.1"]


def _row_hash(df) -> tuple:
    """Order-insensitive (rows, sum of row hashes) over every column."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return row[0], row[1]


def _assert_declared_equals_inferred(spark, path: str, name: str) -> None:
    schema = declared_schema(path, name)
    assert schema is not None, f"{path}: no declared schema matches the footer"
    inferred = spark.read.parquet(path)
    declared = read(spark, path, name)
    assert declared.schema == inferred.schema, (
        f"{path}: declared {declared.schema.simpleString()} "
        f"!= inferred {inferred.schema.simpleString()}"
    )
    assert _row_hash(declared) == _row_hash(inferred), path


def _nanos_ts(path: str) -> bool:
    ts = pq.read_schema(_first_data_file(path)).field("ts").type
    return ts.unit == "ns"


@pytest.mark.parametrize("sf", FIXTURE_SFS)
def test_fixture_reads_match_inference(spark, sf_dir, sf):
    fixtures = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(fixtures):
        pytest.skip(f"{fixtures} absent")
    for name in TESTDATA:
        path = os.path.join(fixtures, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        if name == "events" and _nanos_ts(path):
            # TIMESTAMP(NANOS) stays on the nanosAsLong inference path.
            assert declared_schema(path, name) is None
            continue
        assert declared_schema(path, name) is TESTDATA[name], path
        _assert_declared_equals_inferred(spark, path, name)


def test_generator_reads_match_inference(spark, tmp_path):
    from tpctools_spark.generate import generate
    from tpctools_spark.generate_corpus import generate as generate_corpus
    from tpctools_spark.generate_tpcds import generate_tpcds

    tpch, tpcds, corpus = (str(tmp_path / d) for d in ("tpch", "tpcds", "corpus"))
    generate(spark, 0.001, 2, tpch)
    generate_tpcds(spark, 0.0005, 2, tpcds)
    # Corpus events are left out: Spark writes their ts as INT96, which
    # the footer shows as nanoseconds, so they read through inference.
    generate_corpus(spark, 0.002, 2, corpus, tables=["documents", "embeddings"])
    for registry, out in ((TPCH_PARQUET, tpch), (TPCDS, tpcds), (TESTDATA, corpus)):
        names = [n for n in registry if os.path.exists(f"{out}/{n}.parquet")]
        assert names, out
        for name in names:
            path = f"{out}/{name}.parquet"
            assert declared_schema(path, name) is registry[name], path
            _assert_declared_equals_inferred(spark, path, name)


def test_undeclared_directory_still_reads(spark, tmp_path):
    """A label-less 4-dim embeddings corpus matches no declared schema:
    ``table`` falls back to inference and reads it as written."""
    rows = [(i, [0.1 * i, 0.2, 0.3, 0.4]) for i in range(1, 40)]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    path = str(tmp_path / "embeddings.parquet")
    assert declared_schema(path, "embeddings") is None
    df = table(spark, str(tmp_path), "embeddings")
    assert df.columns == ["vec_id", "embedding"]
    assert df.count() == len(rows)


def test_footer_types_are_exact(tmp_path):
    """Names and Parquet types must match exactly: nanosecond timestamps,
    narrower ints and reordered columns all fall back to inference."""
    import pyarrow as pa

    def write(name: str, table_: pa.Table) -> str:
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table_, path)
        return path

    good = pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]})
    assert declared_schema(write("good", good), "region") is TESTDATA["region"]
    reordered = good.select(["r_name", "r_regionkey"])
    assert declared_schema(write("reordered", reordered), "region") is None
    wide = good.set_column(0, "r_regionkey", pa.array([0], pa.int64()))
    assert declared_schema(write("wide", wide), "region") is None
    cols = {f.name: pa.array([None], pa.int64()) for f in TESTDATA["events"].fields}
    cols["ts"] = pa.array([1], pa.timestamp("ns"))
    cols["event_type"] = cols["props"] = pa.array([None], pa.string())
    cols["value"] = pa.array([None], pa.float64())
    events = pa.table(cols)
    path = write("events", events)
    assert declared_schema(path, "events") is None
    events_us = events.set_column(1, "ts", pa.array([1], pa.timestamp("us")))
    assert declared_schema(write("events_us", events_us), "events") is TESTDATA["events"]
    assert declared_schema(str(tmp_path / "missing.parquet"), "region") is None
    (tmp_path / "not_parquet.parquet").write_text("r_regionkey|r_name\n")
    assert declared_schema(str(tmp_path / "not_parquet.parquet"), "region") is None


def _jobs_while_building(spark, name: str, build) -> list[int]:
    """Spark job ids launched while ``build()`` returns a DataFrame."""
    sc = spark.sparkContext
    group = f"build-guard-{name}"
    sc.setJobGroup(group, "query build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_query_build_launches_no_job(spark, sf_dir):
    """Building a query is pure planning: the declared reads launch no
    schema-inference job (a bare ``spark.read.parquet`` launches one)."""
    import tpctools_spark.queries  # noqa: F401  (registers the queries)
    from tpctools_spark.queries import tpch_generated
    from tpctools_spark.registry import QUERIES

    tpch_generated._materialize(spark)  # writes once, outside the guard
    names = ["agg_group_sum", "dedup_embedding"] + sorted(
        n for n, fn in QUERIES.items() if fn.__module__ == tpch_generated.__name__
    )
    assert len(names) == 10
    launched = {}
    for n in names:
        jobs = _jobs_while_building(spark, n, lambda: QUERIES[n](spark, sf_dir))
        if jobs:
            launched[n] = jobs
    assert not launched, f"query build launched Spark jobs: {launched}"
