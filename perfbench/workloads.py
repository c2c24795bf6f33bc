"""The two workloads: their inputs, their ops and each op's output check.

Every op is one call into a public layer of ``tpctools_spark``:

- ``analytic`` reads. TPC-H registry queries over generated Parquet,
  results collected to the driver, and the dedup/similarity registry
  queries whose ``mapInArrow`` tails run in Python workers, each reduced
  by one aggregate over its full output.
- ``ingest`` writes. ``generate.generate``, ``generate_tpcds.generate_tpcds``
  and ``convert.convert_to_parquet`` writing Parquet: no shuffle, no
  query planning to speak of, no Python workers.

Inputs are built by the code under test, once per checkout and input
key (a hash of the package sources and the sizes below), under
``.perfbench_work/`` at the checkout root. The runner builds them in a
JVM of their own and stops it before the timed set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
EXPECTED_PATH = Path(__file__).resolve().parent / "expected.json"

# Sizes. TPC data is small enough that a pass over the op list fits the
# benchmark's run length on 4 cores; the embedding corpus plants a
# near-duplicate pair at every 70th vector, as the generator defines.
TPCH_SF = 0.1
N_VECS = 10_000
VEC_DIM = 64
INGEST_TPCH_SF = 0.05
INGEST_TPCDS_SF = 0.05

TPC_OPS = [
    "agg_group_sum",  # TPC-H Q1, fixture form: scan and aggregation
    "tpch_q9_product_profit",  # spec form over generator layout: 6-way join
]
DEDUP_OPS = ["dedup_embedding"]  # mapInArrow cell scan: Python workers
# Planted-recall floors, as bench.py asserts them.
RECALL_FLOOR = {"dedup_embedding": 0.85}
INGEST_TPCH_TABLES = ["lineitem"]
INGEST_TPCDS_TABLES = ["store_sales"]
CONVERT_TABLES = ["lineitem", "orders"]
# TPC-H orders per unit scale factor (specification, clause 4.2.5);
# lineitem's 1..7 lines per order make its count a recorded value.
TPCH_ORDERS_PER_SF = 1_500_000


@dataclass
class Outcome:
    """What a check learned from one op execution."""

    ok: bool
    recall: float = 1.0
    rows_out: int = 0  # rows written (ingest ops)
    pairs_out: int = 0
    pairs_found: int = 0
    files: int = 0  # Parquet files written (ingest ops)
    note: str = ""


def source_key(extra: dict) -> str:
    """Hash of the package sources plus ``extra``: generated inputs are
    reused only by the exact code that generated them."""
    h = hashlib.sha256(json.dumps(extra, sort_keys=True).encode())
    for p in sorted((ROOT / "tpctools_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class Input:
    """A generated input: ``WORK/inputs/<name>-<key>``, written by
    ``build(spark, dir)``. Every key is kept, so two commits benchmarked
    in turn from one checkout each build their inputs once."""

    def __init__(self, name: str, extra: dict, build: Callable[[object, Path], None]):
        self.path = WORK / "inputs" / f"{name}-{source_key(extra)}"
        self.build = build

    def ready(self) -> bool:
        return (self.path / "_OK").exists()


def build_inputs(spark, inputs: list[Input]) -> None:
    """Build every input not yet built. A build that dies leaves no marker."""
    for i in inputs:
        if i.ready():
            continue
        tmp = i.path.with_name(i.path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(i.path, ignore_errors=True)
        tmp.mkdir(parents=True)
        i.build(spark, tmp)
        (tmp / "_OK").write_text("ok\n")
        tmp.rename(i.path)


def link_dir(src: Path, dst: Path) -> Path:
    """``dst/<t>`` → ``src/<t>.parquet``: the generators write
    ``<t>.parquet`` while the spec-form queries read ``<t>/``."""
    dst.mkdir(parents=True, exist_ok=True)
    for p in src.glob("*.parquet"):
        link = dst / p.name[: -len(".parquet")]
        if link.is_symlink():
            link.unlink()
        link.symlink_to(p.resolve())
    return dst


def parquet_dir_stats(path: Path) -> tuple[int, int, int]:
    """(rows, bytes, files) of the Parquet part files under ``path``."""
    import pyarrow.parquet as pq

    files = sorted(f for f in path.rglob("*.parquet") if f.is_file())
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(f.stat().st_size for f in files), len(files)


def schema_pairs(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def load_expected() -> dict:
    return json.loads(EXPECTED_PATH.read_text()) if EXPECTED_PATH.exists() else {}


# ----------------------------------------------------------------- workloads


class Workload:
    """Base: inputs, op list and per-op check. ``kind`` is ``query`` when an
    op builds a DataFrame that the runner collects, ``call`` when the op
    is one call that writes its own output."""

    name = ""
    kind = "query"
    ops: list[str] = []
    # Unmeasured passes after the cold one, for ops that are still
    # getting faster from pass to pass when the warm passes begin.
    warmup_passes = 0

    def __init__(self, nproc: int):
        self.nproc = nproc

    def inputs(self) -> list[Input]:
        return []

    def input_rows_bytes(self) -> tuple[int, int]:
        """Rows and on-disk bytes of the Parquet inputs."""
        stats = [parquet_dir_stats(i.path) for i in self.inputs()]
        return sum(s[0] for s in stats), sum(s[1] for s in stats)

    def prepare(self, spark) -> None:
        """Point the ops at the built inputs: no Spark work."""
        raise NotImplementedError

    def cleanup(self, spark, op: str) -> None:
        spark.catalog.clearCache()


class TpcQueries(Workload):
    """The TPC ops of ``analytic``, checked against recorded fingerprints
    and, once per run, against their DuckDB twins."""

    name = "tpc"
    ops = TPC_OPS

    def inputs(self) -> list[Input]:
        def build(spark, tmp: Path) -> None:
            from tpctools_spark.generate import generate

            generate(spark, TPCH_SF, self.nproc, str(tmp / "tpch"))

        cfg = {"tpch_sf": TPCH_SF, "n": self.nproc}
        return [Input("tpc", cfg, build)]

    def prepare(self, spark) -> None:
        d = self.inputs()[0].path
        self.tpch_dir = d / "tpch"
        self.tpch_links = link_dir(d / "tpch", WORK / "links" / "tpch")
        os.environ["TPCTOOLS_TPCH_DIR"] = str(self.tpch_links)
        self.expected = load_expected().get(self.name, {})
        self._duck = None

    def build(self, spark, op: str):
        import tpctools_spark.queries  # noqa: F401  (registers the queries)
        from tpctools_spark.registry import QUERIES

        return QUERIES[op](spark, str(self.tpch_dir))

    def check(self, spark, op: str, df, rows: list, first: bool) -> Outcome:
        from measure import fingerprint

        fp = fingerprint(df.columns, rows)
        want = self.expected.get(op)
        if want is None:
            return Outcome(False, 0.0, note="no recorded fingerprint")
        ok = fp["rows"] == want["rows"] and fp["hash"] == want["hash"]
        note = "" if ok else f"fingerprint {fp} != recorded {want}"
        if ok and first and want.get("oracle"):
            got = self.oracle_fingerprint(op)
            if got != fp:
                ok, note = False, f"duckdb oracle {got} != spark {fp}"
        return Outcome(ok, 1.0 if ok else 0.0, note=note)

    def oracle_sql(self, op: str) -> str | None:
        """The op's DuckDB twin, pointed at this run's inputs."""
        from tpctools_spark.queries import tpch_generated
        from tpctools_spark.registry import ORACLES

        sql = ORACLES.get(op)
        if sql is None:
            return None
        return sql.replace(tpch_generated._GEN_DIR, str(self.tpch_links))

    def oracle_fingerprint(self, op: str) -> dict | None:
        import duckdb

        from measure import fingerprint

        sql = self.oracle_sql(op)
        if sql is None:
            return None
        if self._duck is None:
            self._duck = duckdb.connect()
            self._duck.execute(f"SET threads TO {self.nproc}")
            for p in sorted(self.tpch_dir.glob("*.parquet")):
                self._duck.execute(
                    f"CREATE VIEW {p.name[:-8]} AS SELECT * FROM '{p}/*.parquet'"
                )
        cur = self._duck.execute(sql)
        cols = [d[0] for d in cur.description]
        return fingerprint(cols, cur.fetchall())


class DedupQueries(Workload):
    """The dedup ops of ``analytic``, checked against planted recall."""

    name = "dedup"
    ops = DEDUP_OPS

    def inputs(self) -> list[Input]:
        def build(spark, tmp: Path) -> None:
            from tpctools_spark.generate_corpus import gen_embeddings_scattered

            gen_embeddings_scattered(spark, N_VECS, dim=VEC_DIM, parts=self.nproc) \
                .write.parquet(str(tmp / "embeddings.parquet"))

        cfg = {"vecs": N_VECS, "dim": VEC_DIM, "n": self.nproc}
        return [Input("corpus", cfg, build)]

    def prepare(self, spark) -> None:
        self.corpus = self.inputs()[0].path

    def build(self, spark, op: str):
        """The registry query reduced by ONE aggregate over its full output,
        so Catalyst cannot push a planted-pair predicate into the pair
        generation (bench.py's measured trap)."""
        from pyspark.sql import functions as F

        import tpctools_spark.queries  # noqa: F401  (registers the queries)
        from tpctools_spark.registry import QUERIES

        df = QUERIES[op](spark, str(self.corpus))
        total = F.count(F.lit(1)).alias("total")
        if op == "dedup_embedding":
            hit = (F.col("vec_b") == F.col("vec_a") + 10) & (F.col("vec_b") % 70 == 0)
            return df.agg(total, F.count(F.when(hit, 1)).alias("found"))
        raise KeyError(op)

    def check(self, spark, op: str, df, rows: list, first: bool) -> Outcome:
        row = rows[0]
        planted = (N_VECS - 1) // 70
        found = row["found"]
        recall = min(found, planted) / planted
        floor = RECALL_FLOOR[op]
        ok = recall >= floor
        note = "" if ok else f"planted recall {found}/{planted} < {floor:.0%}"
        return Outcome(ok, recall, pairs_out=row["total"], pairs_found=found, note=note)


class Analytic(Workload):
    """TPC and dedup queries in one closed loop: the read path."""

    name = "analytic"
    ops = TPC_OPS + DEDUP_OPS
    # Planning-bound queries warm up slowly: each op's time falls steeply
    # over the first three passes after the cold one, then slowly.
    warmup_passes = 2

    def __init__(self, nproc: int):
        super().__init__(nproc)
        tpc, dedup = TpcQueries(nproc), DedupQueries(nproc)
        self.parts = (tpc, dedup)
        self.family = {**dict.fromkeys(TPC_OPS, tpc), **dict.fromkeys(DEDUP_OPS, dedup)}

    def inputs(self) -> list[Input]:
        return [i for part in self.parts for i in part.inputs()]

    def prepare(self, spark) -> None:
        for part in self.parts:
            part.prepare(spark)

    def build(self, spark, op: str):
        return self.family[op].build(spark, op)

    def check(self, spark, op: str, df, rows: list, first: bool) -> Outcome:
        return self.family[op].check(spark, op, df, rows, first)


class Ingest(Workload):
    name = "ingest"
    kind = "call"
    ops = (
        [f"generate:{t}" for t in INGEST_TPCH_TABLES]
        + [f"generate_tpcds:{t}" for t in INGEST_TPCDS_TABLES]
        + ["convert:" + "+".join(CONVERT_TABLES)]
    )

    def inputs(self) -> list[Input]:
        def build(spark, tmp: Path) -> None:
            from tpctools_spark.generate import generate

            generate(spark, INGEST_TPCH_SF, self.nproc, str(tmp), tables=CONVERT_TABLES,
                     fmt="csv")

        cfg = {"sf": INGEST_TPCH_SF, "tables": CONVERT_TABLES, "n": self.nproc}
        return [Input("tbl", cfg, build)]

    def prepare(self, spark) -> None:
        self.csv_dir = self.inputs()[0].path
        self.out = WORK / "ingest_out"
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        self.expected = load_expected().get(self.name, {})
        self.written = (0, 0, 0)  # rows, bytes, files over checked outputs

    def outputs(self, op: str) -> list[tuple[str, Path]]:
        layer, tables = op.split(":")
        return [(t, self.out / f"{t}.parquet") for t in tables.split("+")]

    def call(self, spark, op: str) -> None:
        from tpctools_spark.convert import convert_to_parquet
        from tpctools_spark.generate import generate
        from tpctools_spark.generate_tpcds import generate_tpcds

        layer, tables = op.split(":")
        if layer == "generate":
            generate(spark, INGEST_TPCH_SF, self.nproc, str(self.out), tables=[tables])
        elif layer == "generate_tpcds":
            generate_tpcds(spark, INGEST_TPCDS_SF, self.nproc, str(self.out),
                           tables=[tables])
        else:
            names = tables.split("+")
            convert_to_parquet(spark, str(self.csv_dir), str(self.out), tables=names,
                               table_ext=".csv", file_ext=".csv",
                               parallel=min(len(names), self.nproc))

    def expected_rows(self, layer: str, t: str) -> int:
        if layer == "generate_tpcds":
            from tpctools_spark.generate_tpcds import rows_for

            return rows_for(t, INGEST_TPCDS_SF)
        if t == "orders":
            return int(TPCH_ORDERS_PER_SF * INGEST_TPCH_SF)
        return self.expected.get(f"{t}_rows_sf{INGEST_TPCH_SF}", -1)

    def declared_schema(self, layer: str, t: str) -> list[tuple[str, str]]:
        from tpctools_spark.schemas import TPCH_REFERENCE
        from tpctools_spark.schemas_tpcds import TPCDS

        schema = TPCDS[t] if layer == "generate_tpcds" else TPCH_REFERENCE[t]
        return [p for p in schema_pairs(schema) if p[0] != "ignore"]

    def check(self, spark, op: str, first: bool) -> Outcome:
        layer = op.split(":")[0]
        rows = bytes_ = files = 0
        notes = []
        worst = 1.0
        for t, path in self.outputs(op):
            r, b, f = parquet_dir_stats(path)
            rows, bytes_, files = rows + r, bytes_ + b, files + f
            want = self.expected_rows("generate" if layer == "convert" else layer, t)
            if r != want:
                notes.append(f"{t}: {r} rows, expected {want}")
            worst = min(worst, min(r, want) / want if want > 0 else 0.0)
            if first:
                got = schema_pairs(spark.read.parquet(str(path)).schema)
                if got != self.declared_schema(layer, t):
                    notes.append(f"{t}: schema {got} differs from the declared one")
                    worst = 0.0
        self.written = tuple(a + b for a, b in zip(self.written, (rows, bytes_, files)))
        return Outcome(not notes, worst, rows_out=rows, files=files, note="; ".join(notes))

    def cleanup(self, spark, op: str) -> None:
        for _, path in self.outputs(op):
            shutil.rmtree(path, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Analytic, Ingest)}
