"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py

Runs every TPC op of ``analytic`` once over the benchmark's inputs and
compares its result with the query's DuckDB twin where one exists
(``registry.ORACLES``, pointed at the same Parquet files). Writes
``perfbench/expected.json`` with each op's row count and value hash, and
whether DuckDB agreed, plus the generated ``lineitem`` row count the
``ingest`` checks need. Re-run it, and review the diff, when a query's
output or the input sizes change on purpose.
"""

from __future__ import annotations

import json
import sys

from run import ROOT, configure_env, nproc


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from measure import fingerprint
    from tpctools_spark.generate import generate
    from tpctools_spark.session import get_spark
    from workloads import (
        EXPECTED_PATH,
        INGEST_TPCH_SF,
        TPCH_ORDERS_PER_SF,
        WORK,
        TpcQueries,
        build_inputs,
        parquet_dir_stats,
    )

    n = nproc()
    conf = configure_env("2g")
    spark = get_spark(app_name="perfbench-record", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    wl = TpcQueries(n)
    build_inputs(spark, wl.inputs())
    wl.prepare(spark)
    tpc = {}
    for op in wl.ops:
        df = wl.build(spark, op)
        fp = fingerprint(df.columns, df.collect())
        oracle = wl.oracle_fingerprint(op)
        agrees = oracle == fp
        print(f"{op:40s} {fp} duckdb={'agrees' if agrees else oracle}", file=sys.stderr)
        tpc[op] = {**fp, "oracle": agrees}

    out = WORK / "record_lineitem"
    generate(spark, INGEST_TPCH_SF, n, str(out), tables=["lineitem"])
    lineitem, _, _ = parquet_dir_stats(out / "lineitem.parquet")
    orders = int(TPCH_ORDERS_PER_SF * INGEST_TPCH_SF)
    if not orders <= lineitem <= 7 * orders:
        raise SystemExit(f"lineitem rows {lineitem} outside [{orders}, {7 * orders}]")
    spark.stop()

    EXPECTED_PATH.write_text(json.dumps({
        "tpc": tpc,
        "ingest": {f"lineitem_rows_sf{INGEST_TPCH_SF}": lineitem},
    }, indent=1, sort_keys=True) + "\n")
    print(f"wrote {EXPECTED_PATH}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
