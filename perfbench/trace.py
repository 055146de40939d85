"""Spans around calls into the program's layers, and the Spark stage metrics
of the jobs each span ran.

A span tags the jobs it starts with its own Spark job group. After the
traced iteration, the stages of each group are read from the Spark driver's
in-process status store (``AppStatusStore``), which works with the UI
disabled. That store is ``private[spark]`` and reached through py4j;
``test_perfbench.py`` pins the calls so a Spark upgrade fails loudly. If it
breaks, the public JSON event log (``spark.eventLog.enabled``) carries the
same stage and job records.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"pb-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records a tree of named spans in memory.

    ``set_group(group)`` is called with the active span's job group on every
    span entry and exit (the root group when no span is open), so each Spark
    job is tagged with the innermost span that started it.
    """

    ROOT_GROUP = "pb-root"

    def __init__(self, clock: Callable[[], float] = time.perf_counter,
                 set_group: Callable[[str], None] | None = None):
        self.clock = clock
        self.set_group = set_group or (lambda group: None)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.clock())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self.set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self.set_group(self._stack[-1].group if self._stack
                           else self.ROOT_GROUP)

    def wrap(self, owner: object, attr: str, name, *, top_level_only=False):
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name`` is the span name, or a function of the call's arguments
        returning it. With ``top_level_only`` a call made inside another
        span runs unwrapped, so it stays part of that span's self time."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if top_level_only and tracer._stack:
                return orig(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover."""
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += self.self_time(sp)
        return dict(out)

    def covered(self) -> float:
        """Time inside any top-level span."""
        return sum(sp.duration for sp in self.spans if sp.parent is None)

    def groups_by_name(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = defaultdict(set)
        for sp in self.spans:
            out[sp.name].add(sp.group)
        return dict(out)


# --- Spark status store -------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "outputBytes",
)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def job_groups(spark) -> dict[int, str | None]:
    """job id -> job group, for every job the status store retains."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup()
        out[job.jobId()] = group.get() if group.isDefined() else None
    return out


def stages_by_group(spark, wanted: set[str] | None = None
                    ) -> dict[str | None, list[dict]]:
    """Completed and failed stage attempts, grouped by the job group of the
    first job that ran them; only the ``wanted`` groups when given (every
    field read is a py4j round trip)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_group: dict[int, str | None] = {}
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup()
        for sid in _seq(job.stageIds()):
            stage_group.setdefault(sid, group.get() if group.isDefined() else None)
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out: dict[str | None, list[dict]] = defaultdict(list)
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        group = stage_group.get(st.stageId())
        if wanted is not None and group not in wanted:
            continue
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        row = {f: getattr(st, f)() for f in STAGE_FIELDS}
        row["stageId"], row["attemptId"] = st.stageId(), st.attemptId()
        out[group].append(row)
    return dict(out)


def task_time_skew(spark, stage: dict) -> float:
    """Max over median task run time of one stage attempt."""
    sc = spark.sparkContext
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(
        stage["stageId"], stage["attemptId"], quantiles
    )
    if not summary.isDefined():
        return 1.0
    med, top = _seq(summary.get().executorRunTime())
    return top / max(med, 1.0)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")

PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"


def parse_size(text: str) -> float:
    """Bytes from a rendered SQL size metric: either a single value
    ('139.2 KiB') or 'total (min, med, max ...)' followed by the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def python_bytes_by_group(spark, wanted: set[str] | None = None
                          ) -> dict[str | None, tuple[float, float]]:
    """(bytes sent to, bytes returned from) the Python workers per job
    group, from the SQL metrics of each query execution."""
    groups = job_groups(spark)
    sql_store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str | None, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for ex in _seq(sql_store.executionsList()):
        job_ids = _seq(ex.jobs().keys().toSeq())
        if not job_ids:
            continue
        group = groups.get(job_ids[0])
        if wanted is not None and group not in wanted:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        for m in _seq(ex.metrics()):
            slot = {PY_BYTES_IN: 0, PY_BYTES_OUT: 1}.get(m.name())
            if slot is None:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[group][slot] += parse_size(v.get())
    return {g: (v[0], v[1]) for g, v in out.items()}
