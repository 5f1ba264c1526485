"""Spans and counters for the traced run, plus Spark's own accounting.

Everything here runs in the benchmark process and observes the product
from outside:

* ``Tracer`` keeps spans (name, start, end, parent, operation id) in
  memory and writes them out once, at the end of the run;
* ``instrument`` wraps the public entry points of the product modules
  (``catalog``, ``store.CarbonStore``, ``sql.CarbonSession`` and the
  corpus ``operators``) in spans for the lifetime of the traced run only;
  the untraced run never calls it;
* ``SparkProbe`` reads Spark's status store and Catalyst's phase tracker
  after each operation and adds their intervals as synthesized spans.

A layer's self time is its span's duration minus the part of that
interval covered by its child spans.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Any, Callable, Iterator

# Span name -> per-layer metric that reports its self time.
SELF_TIME_METRICS = {
    "query_defs.build": "query_defs.build_s",
    "catalog.load_table": "catalog.load_table_s",
    "sql.call": "sql.call_s",
    "store.scan": "store.scan_s",
    "store.table": "store.table_s",
    "store.load": "store.load_s",
    "store.merge_rows": "store.merge_s",
    "store.update_rows": "store.update_s",
    "store.delete_rows": "store.delete_s",
    "store.compact": "store.compact_s",
    "store.clean_files": "store.clean_s",
    "operators.build": "operators.build_s",
    "spark.analysis": "spark.analysis_s",
    "spark.optimization": "spark.optimization_s",
    "spark.planning": "spark.planning_s",
    "spark.exec": "spark.exec_s",
    "spark.action": "spark.collect_s",
    "op": "bench.glue_s",
}
# Span name -> per-layer metric that counts its calls.
CALL_COUNT_METRICS = {"catalog.load_table": "catalog.calls", "sql.call": "sql.calls"}

# (module, attribute, span name) wrapped by ``instrument``. Registry
# functions import these at call time, so the wrapper is what they get.
MODULE_ENTRY_POINTS = [
    ("carbondata_spark.queries", "load_table", "catalog.load_table"),
    ("carbondata_spark.fact_store", "load_table", "catalog.load_table"),
    ("carbondata_spark.operators.dedup", "minhash_lsh_pairs", "operators.build"),
    ("carbondata_spark.operators.dedup", "near_dup_groups", "operators.build"),
    ("carbondata_spark.operators.tfidf2", "tfidf_top_terms_v2", "operators.build"),
    ("carbondata_spark.operators.similarity", "cosine_topk", "operators.build"),
    ("carbondata_spark.operators.text", "with_quality_score", "operators.build"),
]
STORE_METHODS = ["scan", "table", "load", "merge_rows", "update_rows", "delete_rows",
                 "compact", "clean_files"]

# Spark timestamps are whole milliseconds; a synthesized span may poke
# out of the span that issued it by that much.
_SLACK_S = 0.002


class Tracer:
    """In-memory spans of one run. ``enabled=False`` makes every call a
    no-op, so workload code is the same in traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[dict[str, Any]] = []
        self._op: str | None = None
        self._next_id = 0

    def _new(self, name: str, start: float, end: float | None, parent: int | None) -> dict:
        rec = {"op": self._op, "id": self._next_id, "parent": parent, "name": name,
               "start": start, "end": end}
        self._next_id += 1
        self.spans.append(rec)
        return rec

    @contextmanager
    def operation(self, op_id: str) -> Iterator[None]:
        """Root span of one operation; spans opened inside share its id."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1]["id"] if self._stack else None
        rec = self._new(name, time.time(), None, parent)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, op_id: str, name: str, start: float, end: float) -> None:
        """Synthesized span of a finished operation, parented to the
        innermost recorded span of that operation that contains it."""
        parent = None
        for s in self.spans:
            if (s["op"] == op_id and s["name"] not in _SYNTHESIZED
                    and s["start"] - _SLACK_S <= start and end <= s["end"] + _SLACK_S
                    and (parent is None or s["end"] - s["start"] <= parent["end"] - parent["start"])):
                parent = s
        if parent is None:
            return
        self._op = op_id
        self._new(name, max(start, parent["start"]), min(end, parent["end"]), parent["id"])
        self._op = None

    def count(self, op_id: str, name: str, value: float) -> None:
        if self.enabled:
            self.counts[op_id][name] += value

    def self_times(self) -> dict[str, dict[str, float]]:
        """op id -> span name -> summed self time (s)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[s["id"]]]
            )
            out[s["op"]][s["name"]] += max(0.0, s["end"] - s["start"] - covered)
        return out

    def call_counts(self) -> dict[str, dict[str, int]]:
        out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for s in self.spans:
            out[s["op"]][s["name"]] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


_SYNTHESIZED = {"spark.analysis", "spark.optimization", "spark.planning", "spark.exec"}


def _merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in _merge_intervals([i for i in intervals if i[1] > i[0]]))


def _wrap(fn: Callable, tracer: Tracer, name: str) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextmanager
def instrument(tracer: Tracer) -> Iterator[None]:
    """Wrap the product's entry points in spans; restore them on exit."""
    import importlib

    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    saved: list[tuple[Any, str, Any]] = []
    targets = [(importlib.import_module(m), attr, span) for m, attr, span in MODULE_ENTRY_POINTS]
    targets += [(CarbonStore, m, f"store.{m}") for m in STORE_METHODS]
    targets += [(CarbonSession, "sql", "sql.call")]
    for owner, attr, span in targets:
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, _wrap(getattr(owner, attr), tracer, span))
    try:
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


class SparkProbe:
    """Per-operation jobs, stages, tasks and bytes from Spark's status
    store, and Catalyst phase times from a DataFrame's planning tracker."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.cores = self.sc.defaultParallelism

    def start(self, op_id: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(op_id, op_id, interruptOnCancel=False)

    def finish(self, op_id: str, frames: list = ()) -> None:
        """Read the operation's jobs and the phases of ``frames``."""
        if not self.tracer.enabled:
            return
        self.sc._jsc.clearJobGroup()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for df in frames:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    p = opt.get()
                    self.tracer.add(op_id, f"spark.{phase}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
        count = functools.partial(self.tracer.count, op_id)
        intervals, stages = [], set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(jid)
            if job.submissionTime().isEmpty() or job.completionTime().isEmpty():
                continue
            intervals.append((job.submissionTime().get().getTime() / 1e3,
                              job.completionTime().get().getTime() / 1e3))
            count("spark.jobs", 1)
            info = self.sc.statusTracker().getJobInfo(jid)
            stages.update(info.stageIds if info else [])
        for sid in stages:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            count("spark.stages", 1)
            count("spark.tasks", st.numCompleteTasks() + st.numFailedTasks())
            count("spark.failed_tasks", st.numFailedTasks())
            count("spark.task_run_s", st.executorRunTime() / 1e3)
            count("spark.input_bytes", st.inputBytes())
            count("spark.shuffle_read_bytes", st.shuffleReadBytes())
            count("spark.shuffle_write_bytes", st.shuffleWriteBytes())
            count("spark.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        for s, e in _merge_intervals(intervals):
            self.tracer.add(op_id, "spark.exec", s, e)
