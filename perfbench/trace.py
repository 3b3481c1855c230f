"""Span recorder, Spark status-store reader and /proc RSS sampler.

Nothing here edits ``srag_spark``: spans wrap the calls the benchmark
makes (and, through :meth:`Tracer.wrap`, module functions the library
looks up at call time), Spark work is charged to a span by the job tag
the span sets, and per-operator figures are read afterwards from the
driver's status stores, which are populated with ``spark.ui.enabled``
off.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"
PY_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
            "ArrowEvalPython", "BatchEvalPython")


# ---------------------------------------------------------------------------
# peak RSS of the driver JVM and the Python workers
# ---------------------------------------------------------------------------
def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, leaving out a JVM's children that are
    still the JVM: a fork caught between clone and exec shares the
    parent's pages, and counting it would double the JVM's RSS."""
    kids, out, todo = children_map(), [], [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, ()):
            exe = _exe(c)
            if exe.endswith("/java") and exe == _exe(parent):
                continue
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


class RssSampler:
    """Samples the summed RSS of every descendant of this process (the
    JVM, its launcher and the Python workers it forks) and keeps the
    peak.  The benchmark's own interpreter is not counted."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak = 0
        self.at_peak: list[int] = []  # per-process RSS at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        sizes = [rss_bytes(p) for p in descendants(os.getpid())]
        if sum(sizes) > self.peak:
            self.peak, self.at_peak = sum(sizes), sorted(sizes, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder.  While ``active`` each span tags the
    Spark jobs started inside it with ``perfbench-span-<id>`` and adds the
    time its own bookkeeping takes to ``overhead_s``; while inactive
    :meth:`span` costs one attribute check."""

    spark: object = None
    active: bool = False
    spans: list[Span] = field(default_factory=list)
    op: int = 0
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sp = Span(len(self.spans), name, self.op,
                  self._stack[-1] if self._stack else None, t0)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        sc.addJobTag(f"{TAG_PREFIX}{sp.sid}")
        sc.setJobDescription(name)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = sp.end = time.perf_counter()
            sc.removeJobTag(f"{TAG_PREFIX}{sp.sid}")
            self._stack.pop()
            sc.setJobDescription(self.spans[self._stack[-1]].name if self._stack else None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or an instance's
        bound method) by a version that runs inside span ``name``."""
        fn = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def subtree(self, sid: int) -> set[int]:
        """``sid`` and every span nested in it."""
        out = {sid}
        for s in self.spans[sid + 1:]:
            if s.parent in out:
                out.add(s.sid)
        return out

    def named(self, name: str, op: int | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (op is None or s.op == op)]


# ---------------------------------------------------------------------------
# status-store reader
# ---------------------------------------------------------------------------
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
         "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric (``'1.2 s'``, ``'3.4 MiB'``,
    ``'1,024'``, or the multi-task ``'total (min, med, max ...)\\n<total>
    (...)'`` form).  Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


@dataclass
class Job:
    job_id: int
    span: int | None
    stages: list[int]


@dataclass
class StageStat:
    run_s: float
    tasks: int
    shuffle_write: int
    spill: int
    gc_s: float
    durations: list[float]


@dataclass
class Node:
    name: str  # plan-node class, e.g. "Filter", "Scan parquet "
    desc: str  # the node's one-line plan string
    metrics: dict[str, float]  # metric name -> summed value


@dataclass
class Execution:
    exec_id: int
    jobs: list[int]
    nodes: list[Node]


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def execution_count(spark) -> int:
    """Number of SQL executions the status store holds so far; with
    :func:`read_executions` it brackets the executions of one call."""
    return int(_sql_store(spark).executionsCount())


def read_executions(spark, start: int = 0, stop: int | None = None) -> list[Execution]:
    """SQL executions ``start`` to ``stop`` (in store order) with the
    metrics of every plan node."""
    sql = _sql_store(spark)
    stop = execution_count(spark) if stop is None else stop
    el = sql.executionsList(start, max(0, stop - start))
    execs = []
    for i in range(el.size()):
        e = el.apply(i)
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        graph = sql.planGraph(eid).allNodes()
        nodes = []
        for k in range(graph.size()):
            nd = graph.apply(k)
            ms = {}
            for m in _seq(nd.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[str(m.name())] = parse_metric(str(v.get()))
            nodes.append(Node(str(nd.name()), str(nd.desc()), ms))
        execs.append(Execution(eid, [int(x) for x in _seq(e.jobs().keySet().toSeq())], nodes))
    return execs


@dataclass
class SparkWork:
    """Every job, stage and SQL execution the status stores retain."""

    jobs: dict[int, Job]
    stages: dict[int, StageStat]
    execs: list[Execution]

    @classmethod
    def read(cls, spark) -> "SparkWork":
        jss = spark.sparkContext._jsc.sc().statusStore()
        jl = jss.jobsList(None)
        jobs, stages = {}, {}
        for i in range(jl.size()):
            j = jl.apply(i)
            tags = [str(t) for t in _seq(j.jobTags())]
            ids = [int(t[len(TAG_PREFIX):]) for t in tags if t.startswith(TAG_PREFIX)]
            sids = [int(s) for s in _seq(j.stageIds())]
            # innermost span: spans nest, and an inner span has the larger id
            jobs[j.jobId()] = Job(j.jobId(), max(ids) if ids else None, sids)
            for sid in sids:
                if sid in stages:
                    continue
                try:
                    st = jss.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle output) or failed
                tl = jss.taskList(sid, st.attemptId(), 1 << 30)
                durs = [tl.apply(k).duration().get() / 1e3 for k in range(tl.size())
                        if tl.apply(k).duration().isDefined()]
                stages[sid] = StageStat(
                    st.executorRunTime() / 1e3, st.numCompleteTasks(),
                    st.shuffleWriteBytes(),
                    st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    st.jvmGcTime() / 1e3, durs)
        return cls(jobs, stages, read_executions(spark))

    # -- charging work to spans -------------------------------------------
    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def stages_of(self, span_ids: set[int]) -> list[StageStat]:
        seen = {s for j in self.jobs_of(span_ids) for s in j.stages}
        return [self.stages[s] for s in seen if s in self.stages]

    def execs_of(self, span_ids: set[int]) -> list[Execution]:
        job_ids = {j.job_id for j in self.jobs_of(span_ids)}
        return [e for e in self.execs if job_ids.intersection(e.jobs)]

    def node_sum(self, span_ids: set[int], classes, metric: str, where=None) -> float:
        """Sum ``metric`` over plan nodes of the given classes in the
        executions charged to ``span_ids`` (``where(execution)`` narrows
        the executions)."""
        total = 0.0
        for e in self.execs_of(span_ids):
            if where is not None and not where(e):
                continue
            for nd in e.nodes:
                if any(nd.name == c or nd.name.startswith(c + " ") for c in classes):
                    total += nd.metrics.get(metric, 0.0)
        return total

    def session_figures(self, span_ids: set[int]) -> dict[str, float]:
        st = self.stages_of(span_ids)
        return {
            "spark.jobs": len(self.jobs_of(span_ids)),
            "spark.tasks": sum(s.tasks for s in st),
            "spark.shuffle_write_bytes": sum(s.shuffle_write for s in st),
            "spark.spill_bytes": sum(s.spill for s in st),
            "spark.gc_s": sum(s.gc_s for s in st),
            "spark.python_worker_init_s": self.node_sum(
                span_ids, PY_NODES, "time to initialize Python workers")
            + self.node_sum(span_ids, PY_NODES, "time to start Python workers"),
        }

    def task_skew(self, span_ids: set[int]) -> float:
        """max / median task time of the busiest multi-task stage."""
        st = [s for s in self.stages_of(span_ids) if len(s.durations) > 1]
        if not st:
            return 1.0
        busiest = max(st, key=lambda s: s.run_s)
        med = statistics.median(busiest.durations)
        return max(busiest.durations) / med if med > 0 else 1.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def percentile_tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    and its value; None below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    pct = (100 * (n - 10)) // n
    return pct, xs[max(0, -(-pct * n // 100) - 1)]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
