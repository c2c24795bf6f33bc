"""Tests of the benchmark's pure helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
from measure import (  # noqa: E402
    CLK_TCK,
    PAGE_KB,
    Proc,
    Span,
    aggregate_tree,
    fingerprint,
    parse_stat,
    percentile,
    self_times,
    tail_percentile,
)

DATA = HERE / "data"


# --------------------------------------------------------------- percentiles


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(20) == 50
    assert tail_percentile(11) == 9
    for n in range(11, 500):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile(10) is None
    assert tail_percentile(0) is None


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert abs(percentile(list(range(1, 101)), 90) - 90.1) < 1e-9


# -------------------------------------------------------------- fingerprints


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["k", "v"], [(1, "x"), (2, "y")])
    b = fingerprint(["v", "k"], [("y", 2), ("x", 1)])
    assert a == b
    assert a["rows"] == 2


def test_fingerprint_absorbs_float_summation_noise_only():
    base = fingerprint(["s"], [(0.1 + 0.2,)])
    assert fingerprint(["s"], [(0.3,)]) == base
    assert fingerprint(["s"], [(0.31,)]) != base


def test_fingerprint_sees_values_names_nulls_and_duplicates():
    base = fingerprint(["k"], [(1,), (2,)])
    assert fingerprint(["k"], [(1,), (3,)]) != base
    assert fingerprint(["j"], [(1,), (2,)]) != base
    assert fingerprint(["k"], [(1,), (None,)]) != base
    dup = fingerprint(["k"], [(1,), (2,), (2,)])
    assert dup != base and dup["rows"] == 3


# ----------------------------------------------------------------- /proc tree


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = ["S", "7"] + ["0"] * 9 + ["150", "50", "30", "20"] + ["0"] * 6 + ["256"]
    text = "42 (we (ird) name) " + " ".join(fields) + " 0 0\n"
    p = parse_stat(text, "cmd")
    assert (p.pid, p.ppid) == (42, 7)
    assert p.cpu_ticks == 200 and p.child_cpu_ticks == 50
    assert p.rss_kb == 256 * PAGE_KB


def test_aggregate_tree_splits_jvm_and_python_workers():
    procs = [
        Proc(100, 1, "python3 perfbench/run.py", 50_000, 900, 0),
        Proc(101, 100, "/usr/lib/jvm/bin/java -cp x org.apache.spark.deploy.SparkSubmit",
             2_000_000, 5_000, 0),
        Proc(102, 101, "python3 -m pyspark.daemon", 30_000, 10, 300),
        Proc(103, 102, "python3 -m pyspark.daemon", 80_000, 200, 0),
        # a vfork child of the JVM before exec: same memory, same cmdline
        Proc(104, 101, "/usr/lib/jvm/bin/java -cp x org.apache.spark.deploy.SparkSubmit",
             2_000_000, 0, 0),
        Proc(105, 101, "/bin/bash -c chmod 644 part-0", 3_000, 0, 0),
        Proc(200, 1, "python3 unrelated.py", 999_999, 999, 999),
    ]
    s = aggregate_tree(procs, 100)
    assert s.jvm_rss_kb == 2_000_000
    assert s.pyworker_rss_kb == 110_000
    assert s.pyworker_cpu_s == (10 + 300 + 200) / CLK_TCK


def test_aggregate_tree_of_a_lone_process_is_empty():
    s = aggregate_tree([Proc(5, 1, "python3", 10, 10, 10)], 5)
    assert (s.jvm_rss_kb, s.pyworker_rss_kb, s.pyworker_cpu_s) == (0, 0, 0.0)


# ------------------------------------------------------------------- spans


def test_self_times_subtract_children():
    spans = [
        Span("op", "t", 0.0, 10.0),
        Span("build", "t", 0.0, 3.0, parent=0),
        Span("execute", "t", 3.5, 9.5, parent=0),
        Span("scan", "t", 4.0, 5.0, parent=2),
    ]
    assert self_times(spans) == [1.0, 3.0, 5.0, 1.0]


# ----------------------------------------------------------------- event log


def test_eventlog_parser_on_captured_rolling_log():
    apps = eventlog.log_files(str(DATA))
    assert len(apps) == 1 and apps[0][0].endswith("events_1_local-1")
    jobs = eventlog.parse(apps[0])
    assert [j.group for j in jobs] == ["py#1", "py#1", "agg#1", "agg#1"]
    t = eventlog.totals(jobs)
    assert (t["exec.jobs"], t["exec.stages"], t["exec.tasks"]) == (4, 4, 6)
    assert t["exec.task_failures"] == 0
    # shuffle bytes written are all read back
    assert t["exec.shuffle_write_bytes"] == t["exec.shuffle_read_bytes"] > 0
    assert t["exec.task_cpu_s"] > 0 and t["exec.task_run_s"] >= t["exec.gc_s"]
    assert t["exec.sched_wait_s"] > 0
    # the mapInArrow node returned the 1000 input rows to the JVM
    py = eventlog.totals([j for j in jobs if j.group == "py#1"])
    assert py["pyworker.rows_returned"] == 1000
    assert py["pyworker.bytes_sent"] > 0
    agg = eventlog.totals([j for j in jobs if j.group == "agg#1"])
    assert agg["pyworker.bytes_sent"] == agg["pyworker.rows_returned"] == 0


def test_attribute_by_group_then_by_time_window():
    jobs = eventlog.parse(eventlog.log_files(str(DATA))[0])
    for j in jobs[2:]:
        j.group = None  # as if submitted from a helper thread
    t_agg = jobs[2].submit_ms / 1000.0
    windows = {"py#1": (0.0, 1.0), "agg#1": (t_agg - 0.01, t_agg + 10.0)}
    got = eventlog.attribute(jobs, windows)
    assert [j.job_id for j in got["py#1"]] == [0, 1]
    assert [j.job_id for j in got["agg#1"]] == [2, 3]
