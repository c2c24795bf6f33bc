"""Layered benchmark of tpctools_spark: one workload per run.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, in one process on ``local[nproc]`` with
``nproc`` shuffle partitions, as a closed loop with one client. A run
builds any missing input in a JVM of its own and stops it, then times
its set-up (from the start of this script, or from the end of the input
build, through ``get_spark`` and preparing the ops), times one cold pass
over the op list, runs the workload's unmeasured warm-up passes, then
times at least ``MIN_WARM_PASSES`` warm passes, each in a seed-shuffled
order, until ``--seconds`` have passed. Every op's output is checked
outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: it records spans around each call into the
package, turns on Spark's event log, alternates traced and untraced warm
passes to measure the tracing overhead, and writes the spans and per-op
numbers to ``.perfbench_work/traces/``. The last stdout line is one JSON
object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from the start of the script

import argparse  # noqa: E402
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_WARM_PASSES = 3



def declared_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as
    ``BENCHMARK.json`` declares them: the one list of metric names."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--driver-mem", default="2g",
        help="driver JVM heap, passed to get_spark as SPARK_GRAFT_DRIVER_MEM",
    )
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(driver_mem: str) -> dict[str, str]:
    """Environment and Spark confs that keep every file the run writes
    inside the checkout, and let Python workers import the package."""
    from workloads import WORK

    for d in ("local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # no hsperfdata files in the system temp directory, launcher JVM included
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def pass_order(ops: list[str], seed: int, p: int) -> list[str]:
    order = list(ops)
    random.Random(f"{seed}:{p}").shuffle(order)
    return order


def catalyst_phases(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
    return out


class Runner:
    """One run: set-up, a cold pass, warm-up and warm passes, checks and
    metrics."""

    def __init__(self, args: argparse.Namespace):
        from measure import Tracer, TreeSampler
        from workloads import WORK, WORKLOADS

        self.args = args
        self.n = nproc()
        self.wl = WORKLOADS[args.workload](self.n)
        # pass 0 is cold, then come the unmeasured warm-up passes
        self.first_warm = 1 + self.wl.warmup_passes
        self.traced_run = args.trace == 1
        self.tracer = Tracer(self.traced_run)
        self.sampler = TreeSampler()
        self.conf = configure_env(args.driver_mem)
        self.log_dir = WORK / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}"
        if self.traced_run:
            shutil.rmtree(self.log_dir, ignore_errors=True)
            self.log_dir.mkdir(parents=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir.as_uri(),
            })
        self.execs: list[dict] = []  # one record per op execution
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.spark = None

    # ------------------------------------------------------------ set-up
    def start_session(self, conf: dict[str, str]) -> None:
        from tpctools_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def build_inputs(self) -> bool:
        """Build the inputs this code has not built yet, in a JVM that is
        stopped afterwards: the timed JVM then runs only timed work, and
        its cold pass and peak RSS do not depend on whether the inputs
        were cached. Returns whether a JVM was started."""
        from workloads import build_inputs

        todo = [i for i in self.wl.inputs() if not i.ready()]
        if not todo:
            return False
        self.start_session(configure_env(self.args.driver_mem))
        try:
            build_inputs(self.spark, todo)
        finally:
            self.stop()
        return True

    def setup(self, t0: float) -> None:
        """Set up from ``t0``: ``get_spark``, launching the JVM, then
        pointing the ops at their inputs."""
        with self.tracer.span("setup", "setup"):
            t1 = time.perf_counter()
            with self.tracer.span("session", "setup"):
                self.start_session(self.conf)
            self.session_start_s = time.perf_counter() - t1
            with self.tracer.span("prepare", "setup"):
                self.wl.prepare(self.spark)
        self.setup_s = time.perf_counter() - t0

    # --------------------------------------------------------------- ops
    def run_op(self, op: str, p: int, traced: bool) -> None:
        spark, wl, tr = self.spark, self.wl, self.tracer
        tid = f"{op}#{p}"
        rec = {"op": op, "pass": p, "traced": traced, "ok": False, "recall": 0.0,
               "rows_out": 0, "pairs_out": 0, "pairs_found": 0, "files": 0}
        if traced:
            spark.sparkContext.setJobGroup(tid, tid)
            rec["cpu0"] = self.sampler.cpu_now()
        n_spans = len(tr.spans)
        df = qe = rows = None
        rec["wall0"] = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("op", tid, op=op):
                if wl.kind == "query":
                    with tr.span("build", tid):
                        df = wl.build(spark, op)
                    if traced:
                        with tr.span("plan", tid):
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                    with tr.span("execute", tid):
                        rows = df.collect()
                else:
                    with tr.span("execute", tid):
                        wl.call(spark, op)
            rec["dur"] = time.perf_counter() - t0
            rec["wall1"] = time.time()
            if traced:
                rec["cpu1"] = self.sampler.cpu_now()
                if qe is not None:
                    rec["phases"] = catalyst_phases(qe)
            with tr.span("check", tid):
                first = p == 0
                out = (wl.check(spark, op, df, rows, first) if wl.kind == "query"
                       else wl.check(spark, op, first))
            rec.update(ok=out.ok, recall=out.recall, rows_out=out.rows_out,
                       pairs_out=out.pairs_out, pairs_found=out.pairs_found,
                       files=out.files)
            if not out.ok:
                print(f"CHECK FAILED {tid}: {out.note}", file=sys.stderr)
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            rec.setdefault("dur", time.perf_counter() - t0)
            rec.setdefault("wall1", time.time())
            print(f"OP FAILED {tid}:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            try:
                wl.cleanup(spark, op)
            except Exception:  # noqa: BLE001
                print(f"CLEANUP FAILED {tid}:\n{traceback.format_exc()}", file=sys.stderr)
            if traced:
                spark.sparkContext.setJobGroup("", "")
        rec["spans"] = list(range(n_spans, len(tr.spans)))
        self.execs.append(rec)

    def run(self) -> dict:
        args = self.args
        t0 = time.perf_counter() if self.build_inputs() else T_START
        with self.sampler:
            self.setup(t0)
            # The cold pass runs in list order, so the op that pays the
            # JVM's warm-up is the same in every run.
            for op in self.wl.ops:
                self.run_op(op, 0, self.traced_run)
            # Warm-up passes are checked, and left out of every metric.
            for p in range(1, self.first_warm):
                for op in pass_order(self.wl.ops, args.seed, p):
                    self.run_op(op, p, False)
            # Whole passes keep the op mix of every run the same; they
            # repeat until --seconds have passed, at least
            # MIN_WARM_PASSES times. The JIT may still be settling in the
            # first of them; each op's median drops it as the slowest.
            warm0 = time.perf_counter()
            p = self.first_warm - 1
            while p < self.first_warm - 1 + MIN_WARM_PASSES or (
                time.perf_counter() - warm0 < args.seconds
            ):
                p += 1
                traced = self.traced_run and (p + args.seed) % 2 == 0
                for op in pass_order(self.wl.ops, args.seed, p):
                    self.run_op(op, p, traced)
            result = self.per_layer() if self.traced_run else self.end_to_end()
        return result

    def stop(self) -> None:
        """Stop Spark and the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        warm = [e for e in self.execs if e["pass"] >= self.first_warm]
        cold = [e for e in self.execs if e["pass"] == 0]
        # Each op's median over the warm passes discards the slow passes;
        # the rate is over a pass made of those medians.
        by_op: dict[str, list[float]] = {}
        for e in warm:
            by_op.setdefault(e["op"], []).append(e["dur"])
        op_s = [statistics.median(d) for d in by_op.values()]
        rows, bytes_ = (self.wl.written[:2] if self.wl.kind == "call"
                        else self.wl.input_rows_bytes())
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": sum(e["dur"] for e in cold),
            "ops_per_min": 60.0 * len(op_s) / sum(op_s),
            "op_p50_s": statistics.median(e["dur"] for e in warm),
            "peak_rss_mb": self.sampler.peak_total_kb / 1024.0,
            "ok_frac": sum(e["ok"] for e in self.execs) / len(self.execs),
            "recall_min": min(e["recall"] for e in self.execs),
            "parquet_bytes_per_row": bytes_ / rows if rows else 0.0,
        }

    def per_layer(self) -> dict:
        import eventlog
        from measure import self_times

        self.stop()  # flushes the event log
        spans = self.tracer.spans
        selfs = self_times(spans)
        warm = [e for e in self.execs if e["pass"] >= self.first_warm]
        traced = [e for e in warm if e["traced"]]
        untraced = [e for e in warm if not e["traced"]]
        n_traced_passes = len({e["pass"] for e in traced})
        n_untraced_passes = len({e["pass"] for e in untraced})

        apps = eventlog.log_files(str(self.log_dir))
        jobs = eventlog.parse(apps[-1]) if apps else []
        by_exec = eventlog.attribute(
            jobs, {f"{e['op']}#{e['pass']}": (e["wall0"], e["wall1"]) for e in self.execs}
        )
        acc: dict[str, float] = dict.fromkeys(declared_units("per_layer"), 0.0)
        found = 0
        per_op: dict[str, list[dict]] = {}
        for e in self.execs:
            tid = f"{e['op']}#{e['pass']}"
            layer = {name: 0.0 for name in ("build", "plan", "execute", "check", "op")}
            for i in e["spans"]:
                layer[spans[i].name] += selfs[i]
            ev = eventlog.totals(by_exec.get(tid, []))
            row = {"pass": e["pass"], "traced": e["traced"], "dur_s": e["dur"],
                   "self_s": layer, "phases": e.get("phases"), "events": ev,
                   "ok": e["ok"], "recall": e["recall"]}
            per_op.setdefault(e["op"], []).append(row)
            if not (e["traced"] and e["pass"] >= self.first_warm):
                continue
            acc["queries.build_s"] += layer["build"]
            acc["exec.run_s"] += layer["execute"]
            acc["check.collect_s"] += layer["check"]
            acc["op.self_s"] += layer["op"]
            for k, v in (e.get("phases") or {}).items():
                acc[f"catalyst.{k}_s"] += v
            for k, v in ev.items():
                acc[k] += v
            acc["pyworker.cpu_s"] += e.get("cpu1", 0.0) - e.get("cpu0", 0.0)
            acc["dedup.pairs_out"] += e["pairs_out"]
            found += e["pairs_found"]
            acc["sink.files"] += e["files"]
            layer_name = e["op"].split(":")[0]
            if layer_name in ("generate", "generate_tpcds", "convert"):
                acc[f"{layer_name}.table_s"] += layer["execute"]
                acc[f"{layer_name}.rows"] += e["rows_out"]
        per_pass = max(1, n_traced_passes)
        out = {k: v / per_pass for k, v in acc.items()}
        out["dedup.found_per_pair"] = (
            found / acc["dedup.pairs_out"] if acc["dedup.pairs_out"] else 0.0
        )
        out["session.start_s"] = self.session_start_s
        out["pyworker.peak_rss_mb"] = self.sampler.peak_pyworker_kb / 1024.0
        out["jvm.peak_rss_mb"] = self.sampler.peak_jvm_kb / 1024.0
        t_pass = sum(e["dur"] for e in traced) / max(1, n_traced_passes)
        u_pass = sum(e["dur"] for e in untraced) / max(1, n_untraced_passes)
        out["trace.overhead_frac"] = (t_pass - u_pass) / u_pass if u_pass else 0.0
        self.write_trace(per_op, out)
        return out

    def write_trace(self, per_op: dict, layers: dict) -> None:
        from workloads import WORK

        d = WORK / "traces"
        d.mkdir(parents=True, exist_ok=True)
        path = d / f"{self.wl.name}-seed{self.args.seed}.json"
        path.write_text(json.dumps({
            "workload": self.wl.name,
            "seed": self.args.seed,
            "setup_s": self.setup_s,
            "per_layer_per_pass": layers,
            "per_op": per_op,
            "spans": self.tracer.to_json(),
        }, indent=1))
        shutil.rmtree(self.log_dir, ignore_errors=True)
        print(f"trace written to {path}", file=sys.stderr)


def print_latency_summary(execs: list[dict], first_warm: int) -> None:
    """Warm op latency as the median and the highest percentile with at
    least ten samples beyond it, with the sample count."""
    from measure import percentile, tail_percentile

    durs = [e["dur"] for e in execs if e["pass"] >= first_warm]
    line = f"warm op latency: n={len(durs)} p50={percentile(durs, 50):.3f} s"
    p = tail_percentile(len(durs))
    line += f" p{p}={percentile(durs, p):.3f} s" if p else " (too few samples for a tail)"
    print(line, file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    if not (ROOT / "tpctools_spark" / "__init__.py").is_file():
        print(f"tpctools_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    runner = Runner(args)
    try:
        metrics = runner.run()
    finally:
        runner.stop()
    units = declared_units("per_layer" if runner.traced_run else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json's")
    failed = sum(not e["ok"] for e in runner.execs)
    for e in runner.execs:
        print(f"{e['op']:40s} pass {e['pass']:2d} {e['dur']:8.3f} s "
              f"{'ok' if e['ok'] else 'FAILED'}", file=sys.stderr)
    print_latency_summary(runner.execs, runner.first_warm)
    for k, v in metrics.items():
        print(f"{k:28s} {v:16.6f} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
