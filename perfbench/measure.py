"""Pure measurement helpers: percentiles, result fingerprints, process-tree
aggregation from ``/proc`` and span bookkeeping.

Nothing here starts Spark; the unit tests in ``perfbench/tests`` import this
module directly.
"""

from __future__ import annotations

import hashlib
import math
import os
import threading
import time
from dataclasses import dataclass, field

# --------------------------------------------------------------- percentiles


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that has at least ``beyond`` of ``n``
    samples strictly above it, or ``None`` when ``n`` cannot support one.

    With ``n`` samples, percentile ``p`` leaves ``n * (100 - p) / 100``
    samples beyond it, so the highest admissible ``p`` is
    ``floor(100 * (n - beyond) / n)``.
    """
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# -------------------------------------------------------------- fingerprints


def _cell(v: object) -> str:
    """Engine-neutral rendering of one result cell: floats to 9 decimals
    (absorbs last-bit summation-order noise), everything else by ``str``."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive fingerprint of a query result: the row count and a
    hash over the sorted per-row digests. Columns are sorted by name so a
    column reorder is not a value change."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(
        hashlib.sha256(
            "\x1f".join(_cell(r[i]) for i in order).encode()
        ).hexdigest()
        for r in rows
    )
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for d in digests:
        h.update(d.encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


# ----------------------------------------------------------------- /proc tree

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
PAGE_KB = (os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096) // 1024


@dataclass(frozen=True)
class Proc:
    """One process as read from ``/proc/<pid>/stat`` and ``cmdline``."""

    pid: int
    ppid: int
    cmd: str
    rss_kb: int
    cpu_ticks: int  # utime + stime
    child_cpu_ticks: int  # cutime + cstime (reaped children)


def parse_stat(text: str, cmd: str) -> Proc:
    """Parse ``/proc/<pid>/stat``; the command name may contain spaces and
    parentheses, so split after the last ``)``."""
    pid = int(text[: text.index(" ")])
    rest = text[text.rindex(")") + 2 :].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21), in pages
    return Proc(
        pid=pid,
        ppid=int(rest[1]),
        cmd=cmd,
        rss_kb=int(rest[21]) * PAGE_KB,
        cpu_ticks=int(rest[11]) + int(rest[12]),
        child_cpu_ticks=int(rest[13]) + int(rest[14]),
    )


def read_procs(proc_root: str = "/proc") -> list[Proc]:
    """Every readable process; processes that exit mid-scan are skipped."""
    out = []
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc_root}/{name}/stat") as f:
                stat = f.read()
            with open(f"{proc_root}/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            out.append(parse_stat(stat, cmd.strip()))
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(procs: list[Proc], root: int) -> list[Proc]:
    """Processes below ``root`` (not ``root`` itself)."""
    kids: dict[int, list[Proc]] = {}
    for p in procs:
        kids.setdefault(p.ppid, []).append(p)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c.pid)
    return out


def is_pyworker(p: Proc) -> bool:
    """A PySpark daemon or worker: a Python process started below the JVM."""
    return "pyspark.daemon" in p.cmd or "pyspark.worker" in p.cmd or (
        "python" in p.cmd.split(" ", 1)[0] and "java" not in p.cmd
    )


@dataclass(frozen=True)
class TreeSample:
    """RSS and Python-worker CPU of the benchmark's process tree at one
    instant: the JVM and the PySpark workers, counted separately."""

    jvm_rss_kb: int
    pyworker_rss_kb: int
    pyworker_cpu_s: float


def is_java(p: Proc | None) -> bool:
    return p is not None and "java" in p.cmd.split(" ", 1)[0]


def aggregate_tree(procs: list[Proc], root: int) -> TreeSample:
    """Sum the tree below ``root``. Worker CPU counts live workers' own
    ticks plus the ticks of workers their parents already reaped, so it
    only grows while the workers come and go.

    A JVM spawns helper processes with ``vfork``; until they ``exec`` they
    share the JVM's memory and report its RSS, so a java process whose
    parent is a java process is not counted again. Other helpers (shells,
    ``chmod``) are negligible and skipped."""
    tree = descendants(procs, root)
    by_pid = {p.pid: p for p in tree}
    jvm = wrk = 0
    ticks = 0
    for p in tree:
        if is_pyworker(p):
            wrk += p.rss_kb
            ticks += p.cpu_ticks + p.child_cpu_ticks
        elif is_java(p) and not is_java(by_pid.get(p.ppid)):
            jvm += p.rss_kb
    return TreeSample(jvm, wrk, ticks / CLK_TCK)


class TreeSampler:
    """Background sampler of :func:`aggregate_tree` for this process.

    Keeps the peaks; ``cpu_now`` gives the monotone worker-CPU reading
    for per-op deltas. A sample scans all of ``/proc`` holding the GIL
    (about 4 ms for 80 processes), so the default interval keeps the
    sampler's share of the driver's Python thread near 2%.
    """

    def __init__(self, interval_s: float = 0.25, root: int | None = None):
        self.interval_s = interval_s
        self.root = os.getpid() if root is None else root
        self.peak_total_kb = 0
        self.peak_jvm_kb = 0
        self.peak_pyworker_kb = 0
        self._cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> TreeSample:
        s = aggregate_tree(read_procs(), self.root)
        with self._lock:
            self.peak_total_kb = max(
                self.peak_total_kb, s.jvm_rss_kb + s.pyworker_rss_kb
            )
            self.peak_jvm_kb = max(self.peak_jvm_kb, s.jvm_rss_kb)
            self.peak_pyworker_kb = max(self.peak_pyworker_kb, s.pyworker_rss_kb)
            self._cpu = max(self._cpu, s.pyworker_cpu_s)
        return s

    def cpu_now(self) -> float:
        self.sample()
        with self._lock:
            return self._cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    trace_id: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans with parent links; written out once at exit.

    Disabled tracers hand out no-op spans, so the timed code is the same
    in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, trace_id: str, **attrs: object) -> "_SpanCtx":
        return _SpanCtx(self, name, trace_id, attrs)

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "trace_id": s.trace_id,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id: str, attrs: dict):
        self.tracer, self.name, self.trace_id, self.attrs = tracer, name, trace_id, attrs
        self.index: int | None = None

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            t.spans.append(
                Span(self.name, self.trace_id, time.time(), parent=parent, attrs=self.attrs)
            )
            self.index = len(t.spans) - 1
            t._stack.append(self.index)
        return self

    def __exit__(self, *exc: object) -> None:
        t = self.tracer
        if self.index is not None:
            t.spans[self.index].end = time.time()
            t._stack.pop()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval its children
    cover (children of one span never overlap: the loop is one client)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return [s.dur - c for s, c in zip(spans, child)]
