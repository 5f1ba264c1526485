"""Job-count measurement scoped to a dedicated Spark job group.

The r16 pins counted ``len(statusTracker().getJobIdsForGroup(None))``
deltas — order-dependent in a full-suite run on the shared session: the
tracker retains only ``spark.ui.retainedJobs`` (1000) job IDs, so once
the suite has run enough jobs the global list saturates and new jobs
evict old ones out of the count, and any straggler job finishing
asynchronously between the before/after reads bleeds into the delta
(the exact flake the r16 verdict caught in
``test_broad_delete_32_segments_constant_jobs``: failed full-suite,
passed isolated). Scoping each measurement to its own fresh job group
makes the count a pure function of the measured call — nothing else in
the session can land in the group, and eviction can't touch jobs that
finished milliseconds ago.

Pool-thread caveat (why this is still sound for store mutations): Spark
job groups are thread-local with inheritance at thread creation, so a
job submitted from a long-lived executor pool created BEFORE the group
was set escapes the group. The store's pooled work (footer walks) is
driver-side pyarrow, not Spark jobs, and every pinned invariant is an
EQUALITY between two measurements of the same code path — a job that
escaped one measurement escapes both identically.
"""

from __future__ import annotations

import collections
import itertools

_seq = itertools.count()


class count_jobs:
    """``with count_jobs(spark) as c: <measured call>`` → ``c.n`` is the
    number of Spark jobs the measured call ran, immune to suite order;
    ``c.by_description`` counts them per job description (the store
    describes its jobs ``carbon:<op>:<phase>``)."""

    def __init__(self, spark):
        self._spark = spark
        self._group = f"jobcount-pin-{next(_seq)}"
        self.n: int | None = None
        self.by_description: collections.Counter[str | None] = collections.Counter()

    def __enter__(self) -> "count_jobs":
        self._spark.sparkContext.setJobGroup(self._group, "job-count pin", False)
        return self

    def __exit__(self, *exc) -> None:
        sc = self._spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
        ids = sc.statusTracker().getJobIdsForGroup(self._group) or []
        self.n = len(ids)
        status = sc._jsc.sc().statusStore()
        for jid in ids:
            desc = status.job(jid).description()
            self.by_description[desc.get() if desc.isDefined() else None] += 1
        # detach: later session work must not accrue to the pin's group
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
