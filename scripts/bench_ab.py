"""Interleaved A/B benchmark harness — the falsifiable-perf tool.

Single-run suite timings on a shared local[32] JVM swing ±25-40% with
GC/JIT/host state, so "q90 went 2.7 → 6.4 s" is unfalsifiable from one
sample. This harness makes perf claims testable:

- **Measure mode** (no ``--b``): each query gets one untimed warmup
  (pays Janino/whole-stage-codegen compile) then ``--reps`` timed runs;
  reports min / median / spread. The min is the steady-state number a
  dedicated cluster job sustains.
- **A/B mode** (``--a``/``--b`` env assignments): the two variants run
  INTERLEAVED in the same JVM (A,B then B,A on alternating reps, so
  drift and first-mover effects cancel), with per-rep deltas and a
  sign-stability verdict — a claimed win must hold in every rep, not
  just on the min.

Variants are expressed as environment assignments because the query
functions read feature/env toggles at plan-build time; an optimization
under test lands behind an env flag, gets A/B'd here, and the flag is
removed once the winner is kept.

Usage:
  python scripts/bench_ab.py --all-tpcds --reps 3            # stable suite
  python scripts/bench_ab.py -q tpcds_q90_am_pm_ratio --reps 7
  python scripts/bench_ab.py -q dedup_minhash \\
      --a TPCTOOLS_MINHASH_ARROW=0 --b TPCTOOLS_MINHASH_ARROW=1 --reps 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Spec-form TPC-H queries read the generator-layout directory from
# TPCTOOLS_TPCH_DIR; everything else takes the fixture dir as sf_dir.
TPCH_GEN_FORM = frozenset(
    {
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_shipmode_priority",
        "tpch_q16_supplier_part_count",
        "tpch_q19_discounted_revenue",
        "tpch_q20_potential_promotion",
        "tpch_q21_suppliers_kept_waiting",
    }
)

_OVERRIDE_KEYS = ("TPCTOOLS_TPCDS_DIR", "TPCTOOLS_TPCH_DIR")


def parse_env(spec: str | None) -> dict[str, str]:
    if not spec:
        return {}
    out: dict[str, str] = {}
    for kv in spec.split(","):
        k, _, v = kv.partition("=")
        out[k.strip()] = v.strip()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-q", "--queries", nargs="*", default=[])
    ap.add_argument("--all-tpcds", action="store_true")
    ap.add_argument("--all-tpch", action="store_true")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--a", dest="env_a", default=None,
                    help="comma-separated K=V env for variant A")
    ap.add_argument("--b", dest="env_b", default=None,
                    help="comma-separated K=V env for variant B (enables A/B)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json", dest="json_out", default=None)
    args = ap.parse_args()

    from tpctools_spark.benchfix import ensure_tpcds_sf1, ensure_tpch_sf1
    from tpctools_spark.registry import spark_queries
    from tpctools_spark.session import get_spark

    spark = get_spark("bench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()

    names = list(args.queries)
    if args.all_tpcds:
        names += sorted(n for n in qs if n.startswith("tpcds_q"))
    if args.all_tpch:
        names += sorted(n for n in qs if n.startswith("tpch_q"))
    if not names:
        ap.error("no queries selected (use -q / --all-tpcds / --all-tpch)")
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    need_ds = any(n.startswith("tpcds_") for n in names)
    need_h = any(n.startswith("tpch_") for n in names)
    tpcds_dir = ensure_tpcds_sf1(spark) if need_ds else None
    tpch_fix_dir = tpch_gen_dir = None
    if need_h:
        tpch_fix_dir, tpch_gen_dir = ensure_tpch_sf1(spark)

    def routing(name: str) -> tuple[dict[str, str], str]:
        """(env overrides, sf_dir) for one query at sf1 where possible."""
        if name.startswith("tpcds_"):
            return {"TPCTOOLS_TPCDS_DIR": tpcds_dir}, args.sf_dir
        if name in TPCH_GEN_FORM:
            return {"TPCTOOLS_TPCH_DIR": tpch_gen_dir}, args.sf_dir
        if name.startswith("tpch_"):
            return {}, tpch_fix_dir
        return {}, args.sf_dir

    def run_once(name: str, extra_env: dict[str, str]) -> float:
        route_env, sf_dir = routing(name)
        for k in _OVERRIDE_KEYS:
            os.environ.pop(k, None)
        saved: dict[str, str | None] = {}
        env = {**route_env, **extra_env}
        for k, v in env.items():
            saved[k] = os.environ.get(k)
            os.environ[k] = v
        try:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0
        finally:
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v

    env_a = parse_env(args.env_a)
    env_b = parse_env(args.env_b) if args.env_b is not None else None
    ab_mode = env_b is not None

    results: dict[str, dict] = {}
    for name in names:
        try:
            run_once(name, env_a)  # warmup: compile + page cache
            if ab_mode:
                run_once(name, env_b)
            a_runs: list[float] = []
            b_runs: list[float] = []
            for rep in range(args.reps):
                order = [("a", env_a)]
                if ab_mode:
                    order.append(("b", env_b))
                    if rep % 2 == 1:
                        order.reverse()
                for tag, env in order:
                    t = run_once(name, env)
                    (a_runs if tag == "a" else b_runs).append(t)
            rec: dict = {
                "a_min": round(min(a_runs), 3),
                "a_median": round(statistics.median(a_runs), 3),
                "a_spread": round(max(a_runs) - min(a_runs), 3),
                "a_runs": [round(t, 3) for t in a_runs],
            }
            if ab_mode:
                deltas = [a - b for a, b in zip(a_runs, b_runs)]
                rec.update(
                    {
                        "b_min": round(min(b_runs), 3),
                        "b_median": round(statistics.median(b_runs), 3),
                        "b_runs": [round(t, 3) for t in b_runs],
                        "delta_min": round(min(a_runs) - min(b_runs), 3),
                        "delta_pct": round(
                            100 * (min(a_runs) - min(b_runs)) / min(a_runs), 1
                        ),
                        "rep_deltas": [round(d, 3) for d in deltas],
                        "sign_stable": all(d > 0 for d in deltas)
                        or all(d < 0 for d in deltas),
                    }
                )
            results[name] = rec
        except Exception as exc:  # noqa: BLE001 — keep the rest of the run
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        spark.catalog.clearCache()

    ok = {n: r for n, r in results.items() if "error" not in r}
    if ab_mode:
        print(f"\n{'query':42s} {'A_min':>7s} {'B_min':>7s} "
              f"{'Δmin':>7s} {'Δ%':>6s} stable  rep_deltas")
        for n, r in ok.items():
            print(
                f"{n:42s} {r['a_min']:7.3f} {r['b_min']:7.3f} "
                f"{r['delta_min']:7.3f} {r['delta_pct']:6.1f} "
                f"{str(r['sign_stable']):6s}  {r['rep_deltas']}"
            )
    else:
        print(f"\n{'query':42s} {'min':>7s} {'median':>8s} "
              f"{'spread':>7s}  runs")
        for n, r in ok.items():
            print(
                f"{n:42s} {r['a_min']:7.3f} {r['a_median']:8.3f} "
                f"{r['a_spread']:7.3f}  {r['a_runs']}"
            )
        print(f"\n{'TOTAL (min)':42s} "
              f"{sum(r['a_min'] for r in ok.values()):7.3f}")
    for n, r in results.items():
        if "error" in r:
            print(f"ERROR {n}: {r['error']}")

    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(
                {"reps": args.reps, "a": env_a, "b": env_b,
                 "results": results},
                f, indent=1,
            )
        print(f"wrote {args.json_out}")


if __name__ == "__main__":
    main()
