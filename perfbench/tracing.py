"""Per-layer tracing for ``--trace 1`` runs, installed from outside the engine.

Nothing in ``eget_crawler_for_overflow_spark`` changes. The tracer rebinds
the names the crawl loop calls and wraps a few methods:

* driver-side spans (name, start, end, parent, thread) around
  ``frontier.assign_seq_counted``, ``frontier.salted_fetch_schedule``,
  ``SeenSet.add/barrier/filter_unseen`` and
  ``CheckpointManager.commit/read_all``;
* every pandas UDF the workloads run (the crawl's extract bundle, the robots
  and crawl-delay UDFs, ``extract_page_udf``, the chunker UDF) is rebuilt as
  a ``pandas_udf`` with the same return type whose body adds its
  ``perf_counter`` busy time and row counts to Spark accumulators.

Spark is lazy, so a span measures what its call forces, not the layer alone.
``LABELS`` says, per span, which upstream work that includes; the per-layer
metrics inherit those labels. ``salted_fetch_schedule`` only builds a plan,
so in traced runs its result is pinned inside the span (the engine pins it
on the next line anyway); that moves the schedule's job into the span and
adds one small re-pin per generation, part of the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

from eget_crawler_for_overflow_spark.functions import extract
from eget_crawler_for_overflow_spark.operators import chunker, frontier
from eget_crawler_for_overflow_spark.operators.seen import SeenSet
from eget_crawler_for_overflow_spark.sources.checkpoint import CheckpointManager

# what each span's duration covers (Spark evaluates lazily)
LABELS = {
    "frontier.run_crawl": "whole crawl through the forcing count",
    "ordering.assign_seq": "eager: forces the wave's admission lineage "
    "(robots UDF, dedup agg, seen anti-join, host-budget cap, priority join)",
    "politeness.schedule": "eager in traced runs: forces robots join, "
    "crawl-delay UDF and the wave/deferred union",
    "seen.add": "eager, on the maintenance thread (overlaps fetch/extract)",
    "seen.barrier": "critical-path wait for the maintenance thread",
    "seen.filter_unseen": "plan build plus files-mode listing; its work "
    "runs inside ordering.assign_seq",
    "checkpoint.commit": "eager: writes the generation's tables, forcing "
    "their remaining lineage (link expansion, miss envelope)",
    "checkpoint.read_all": "file listing and schema read of all generations",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    rep: str


def _busy_rows(func, busy, rows, nbytes=None, items=None):
    """``func`` with its time and row count added to accumulators.
    ``nbytes`` sums the first input's byte lengths; ``items`` sums the
    lengths of the output's elements (chunks per page)."""

    @functools.wraps(func)
    def run(*cols):
        t = time.perf_counter()
        out = func(*cols)
        busy.add(time.perf_counter() - t)
        rows.add(len(cols[0]))
        if nbytes is not None:
            nbytes.add(int(cols[0].map(lambda h: len(h) if h is not None else 0).sum()))
        if items is not None:
            items.add(int(out.map(len).sum()))
        return out

    return run


class Tracer:
    """Spans plus UDF accumulators for one process. ``install`` patches the
    engine's module attributes; ``uninstall`` restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.rep = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.acc: dict[str, object] = {}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # spans on engine-started threads hang off the open root span
        parent = stack[-1] if stack else self._root
        is_root = not stack and threading.current_thread() is threading.main_thread()
        with self._lock:
            sid = len(self.spans)
            s = Span(sid, name, time.perf_counter(), 0.0, parent,
                     threading.current_thread().name, self.rep)
            self.spans.append(s)
        if is_root:
            self._root = sid
        stack.append(sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if is_root:
                self._root = None

    def _wrap_call(self, name: str, fn, pin: bool = False):
        @functools.wraps(fn)
        def call(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
                if pin:
                    out = out.localCheckpoint(eager=True)
                return out

        return call

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    # -- UDF accumulators --------------------------------------------------
    def _accs(self, layer: str, *kinds: str):
        out = []
        for k in kinds:
            key = f"{layer}.{k}"
            if key not in self.acc:
                self.acc[key] = self.sc.accumulator(0.0 if k == "busy" else 0)
            out.append(self.acc[key])
        return out

    def _traced_udf(self, udf, layer: str, html_bytes=False, items=False):
        busy, rows = self._accs(layer, "busy", "rows")
        nbytes = self._accs(layer, "bytes")[0] if html_bytes else None
        n_items = self._accs(layer, "items")[0] if items else None
        return F.pandas_udf(
            _busy_rows(udf.func, busy, rows, nbytes, n_items),
            returnType=udf.returnType,
        )

    def counters(self) -> dict[str, float]:
        return {k: a.value for k, a in self.acc.items()}

    # -- install -----------------------------------------------------------
    def install(self) -> None:
        w = self._wrap_call
        self._set(frontier, "assign_seq_counted",
                  w("ordering.assign_seq", frontier.assign_seq_counted))
        self._set(frontier, "salted_fetch_schedule",
                  w("politeness.schedule", frontier.salted_fetch_schedule, pin=True))
        for meth in ("add", "barrier", "filter_unseen"):
            self._set(SeenSet, meth, w(f"seen.{meth}", getattr(SeenSet, meth)))
        for meth in ("commit", "read_all"):
            self._set(CheckpointManager, meth,
                      w(f"checkpoint.{meth}", getattr(CheckpointManager, meth)))

        make_bundle = frontier.make_extract_bundle_udf

        @functools.wraps(make_bundle)
        def traced_bundle(*a, **kw):
            return self._traced_udf(make_bundle(*a, **kw), "extract", html_bytes=True)

        self._set(frontier, "make_extract_bundle_udf", traced_bundle)
        self._set(frontier, "robots_allowed_udf",
                  self._traced_udf(frontier.robots_allowed_udf, "robots"))
        self._set(frontier, "crawl_delay_udf",
                  self._traced_udf(frontier.crawl_delay_udf, "robots"))
        self._set(extract, "extract_page_udf",
                  self._traced_udf(extract.extract_page_udf, "extract", html_bytes=True))
        self._set(chunker, "chunk_markdown_udf",
                  self._traced_udf(chunker.chunk_markdown_udf, "chunker", items=True))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- reporting ---------------------------------------------------------
    def self_times(self) -> list[float]:
        """Span duration minus the part covered by its same-thread children
        (children on other threads overlap their parent; they do not block
        it)."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and self.spans[s.parent].thread == s.thread:
                covered[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, covered)]

    def layer_times(self, rep: str) -> dict[str, tuple[float, int]]:
        """name → (total duration, calls) over one rep's spans, plus
        ``frontier.loop_self_s``: the crawl span's self time, i.e. the
        fetch, extract and link expansion no wrapped call covers."""
        out: dict[str, tuple[float, int]] = {}
        selfs = self.self_times()
        loop_self = 0.0
        for s, st in zip(self.spans, selfs):
            if s.rep != rep:
                continue
            t, n = out.get(s.name, (0.0, 0))
            out[s.name] = (t + s.end - s.start, n + 1)
            if s.name == "frontier.run_crawl":
                loop_self += st
        out["frontier.loop_self"] = (loop_self, 1)
        return out

    def write(self, path: str) -> None:
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "thread": s.thread,
                "rep": s.rep,
                "self_s": st,
                "covers": LABELS.get(s.name, ""),
            }
            for s, st in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "counters": self.counters()}, f, indent=1)


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of one job group, from the status
    tracker (it works with the UI disabled). Stages a job skipped because
    their shuffle output already existed have no completed tasks and are
    not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        si = st.getStageInfo(sid)
        if si is not None and si.numCompletedTasks > 0:
            stages += 1
            tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def jvm_peak_rss_mb(sc) -> float:
    """``VmHWM`` of the driver JVM from ``/proc/<pid>/status``."""
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
