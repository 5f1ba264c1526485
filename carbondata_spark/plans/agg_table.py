"""Aggregate (rollup) tables: materialized summaries refreshed per load.

Reference parity: `CREATE AGGREGATETABLE agg(col),... FROM CUBE c`
(CarbonSqlParser.scala:182-224 → AddAggregatesToCube,
cubeSchema.scala:1970-2100), reloaded after every fact load
(CarbonDataLoadRDD.scala:306-345). In the reference era the live planner
did not reroute queries; here we go one step further with an explicit
rewrite: a groupBy whose dimensions ⊆ the rollup's dimensions and whose
aggregates are derivable is answered from the (much smaller) summary.

Derivability rules (standard rollup algebra):
    sum   → sum(sum_x)
    count → sum(count_x)
    min   → min(min_x), max → max(max_x)
    avg   → sum(sum_x) / sum(count_x)
100-TB note: the rollup is itself maintained incrementally — each new
segment's partial aggregate unions into the summary keyed by segment id,
so a load aggregates only its own data (map-side partials), never
re-scans history; compaction of the summary happens with the fact
compaction.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from carbondata_spark.store import CarbonStore

SUPPORTED = ("sum", "count", "min", "max")


class AggregateTable:
    """Metadata + maintenance for one rollup of a store table."""

    def __init__(self, store: CarbonStore, fact: str, name: str):
        self.store = store
        self.fact = fact
        self.name = name

    @property
    def meta_path(self) -> str:
        return os.path.join(self.store._table_dir(self.fact), f"agg_{self.name}.json")

    def read_meta(self) -> dict[str, Any]:
        with open(self.meta_path) as f:
            return json.load(f)


def create_aggregate_table(
    store: CarbonStore,
    fact: str,
    name: str,
    group_cols: list[str],
    measures: dict[str, list[str]],
) -> AggregateTable:
    """``measures``: {column: [agg, ...]} with aggs from SUPPORTED.

    Materializes `<fact>_agg_<name>` as a store table holding
    group_cols + one column per (agg, measure) named `<agg>_<col>` +
    `count_all` (needed to derive avg and count(*))."""
    for col, aggs in measures.items():
        for a in aggs:
            if a not in SUPPORTED:
                raise ValueError(f"unsupported aggregate {a} (use {SUPPORTED})")
    agg = AggregateTable(store, fact, name)
    meta = {"fact": fact, "name": name, "group_cols": group_cols, "measures": measures}
    tmp = agg.meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, agg.meta_path)
    refresh_aggregate_table(agg)
    return agg


def _summary_df(
    store: CarbonStore, meta: dict[str, Any], segment_ids: list[int] | None = None
) -> DataFrame:
    df = store.table(meta["fact"], segment_ids=segment_ids)
    aggs = [F.count("*").alias("count_all")]
    for col, fns in meta["measures"].items():
        for fn in fns:
            aggs.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return df.groupBy(*meta["group_cols"]).agg(*aggs)


def refresh_aggregate_table(agg: AggregateTable) -> None:
    """Incremental rollup maintenance (runs inside every fact load).

    The summary table holds PARTIAL aggregates: each summary segment is
    the groupBy of one batch of fact segments, tagged with
    ``origin['fact_segments']``. A refresh aggregates ONLY fact segments
    not yet covered and appends them as a new summary segment — per-load
    cost is O(new segment), independent of table history (the 100-TB
    requirement). Readers (``rewrite_aggregate``) re-combine partials
    with the standard rollup algebra (sum of sums, min of mins, ...), so
    partial rows per group are invisible to queries.

    If a covered fact segment is no longer valid (overwrite / DELETE
    LOAD / compaction), incremental state is unsound — fall back to a
    full rebuild (mode='overwrite').
    """
    store, meta = agg.store, agg.read_meta()
    target = f"{meta['fact']}_agg_{meta['name']}"
    current = sorted(e.segment_id for e in store.valid_segments(meta["fact"]))

    covered: set[int] = set()
    sound = True
    if store.has_table(target):
        for e in store.valid_segments(target):
            if "fact_segments" not in e.origin:
                # a summary segment with no provenance tag (e.g. written
                # by an older compact() that dropped origins) has unknown
                # contributions — incremental math over it double-counts
                sound = False
            covered.update(e.origin.get("fact_segments", []))
    else:
        summary0 = _summary_df(store, meta, segment_ids=current)
        store.create_table(target, summary0.schema, sort_columns=list(meta["group_cols"]))
        store.load(
            target, summary0, refresh_aggregates=False, origin={"fact_segments": current}
        )
        return

    if sound and covered <= set(current):
        new = [s for s in current if s not in covered]
        if not new:
            return
        partial = _summary_df(store, meta, segment_ids=new)
        store.load(
            target, partial, refresh_aggregates=False, origin={"fact_segments": new}
        )
    else:
        full = _summary_df(store, meta, segment_ids=current)
        store.load(
            target,
            full,
            mode="overwrite",
            refresh_aggregates=False,
            origin={"fact_segments": current},
        )


def list_aggregate_tables(store: CarbonStore, fact: str) -> list[str]:
    """SHOW AGGREGATE TABLES (CarbonSqlParser.scala:208-224)."""
    tdir = store._table_dir(fact)
    out = []
    for fn in sorted(os.listdir(tdir)):
        if fn.startswith("agg_") and fn.endswith(".json") and not fn.endswith(".tmp"):
            out.append(fn[len("agg_") : -len(".json")])
    return out


def drop_aggregate_table(store: CarbonStore, fact: str, name: str) -> None:
    agg = AggregateTable(store, fact, name)
    os.remove(agg.meta_path)
    target = f"{fact}_agg_{name}"
    if store.has_table(target):
        store.drop_table(target)


def _coverage_current(store: CarbonStore, fact: str, name: str, live: set[int]) -> bool:
    """True iff the summary's covered fact-segment set EQUALS the live
    valid-segment set. Only ``load()`` refreshes rollups, so after
    ``delete_segments``/``delete_segments_by_date``/``compact`` a summary
    still carries pre-mutation contributions (delete: silently wrong
    numbers; compact: coverage tags referencing retired segment ids).
    Equality — not subset — is the sound check: a superset means deleted
    rows still counted, a subset means new rows missing. The reference
    cannot hit this window because it rebuilds agg tables inside every
    load (CarbonDataLoadRDD.scala:306-345) and never query-routes to
    them; our routing extension therefore carries its own guard.
    Cost: O(#summary segments) manifest reads, driver-side, no scan."""
    target = f"{fact}_agg_{name}"
    if not store.has_table(target):
        return False
    covered: set[int] = set()
    for e in store.valid_segments(target):
        if "fact_segments" not in e.origin:
            return False  # untagged summary segment: contributions unknown
        covered.update(e.origin.get("fact_segments", []))
    return covered == live


def choose_rollup(
    store: CarbonStore,
    fact: str,
    group_cols: list[str],
    measures: dict[str, list[str]],
) -> str | None:
    """The narrowest aggregate table that can answer
    groupBy(group_cols).agg(measures), or None. Shared by
    ``rewrite_aggregate`` and the SQL passthrough router
    (CarbonSession._try_rollup_route). A candidate whose coverage is
    stale (fact mutated since its last refresh) is never routed to —
    the caller falls back to the fact table until
    ``refresh_aggregate_table`` re-syncs it."""
    live = {e.segment_id for e in store.valid_segments(fact)}
    chosen = None
    chosen_meta = None
    for name in list_aggregate_tables(store, fact):
        meta = AggregateTable(store, fact, name).read_meta()
        if not set(group_cols) <= set(meta["group_cols"]):
            continue
        ok = all(
            col in meta["measures"] and _derivable(fn, meta["measures"][col])
            for col, fns in measures.items()
            for fn in fns
        )
        if ok and (chosen is None or len(meta["group_cols"]) < len(chosen_meta["group_cols"])):
            if not _coverage_current(store, fact, name, live):
                continue
            chosen, chosen_meta = name, meta
    return chosen


def rewrite_aggregate(
    store: CarbonStore,
    fact: str,
    group_cols: list[str],
    measures: dict[str, list[str]],
) -> DataFrame:
    """Answer groupBy(group_cols).agg(measures) from the best matching
    rollup, else from the fact table.

    The Catalyst-rule equivalent (SURVEY §7 M4): PySpark cannot register
    logical rules, so the rewrite is an API/planner-helper — the SQL
    passthrough router calls ``choose_rollup`` and this algebra for
    simple GROUP BY statements over store tables.
    """
    chosen = choose_rollup(store, fact, group_cols, measures)

    if chosen is None:
        df = store.table(fact)
        aggs = _direct_aggs(measures)
        return df.groupBy(*group_cols).agg(*aggs)

    summary = store.table(f"{fact}_agg_{chosen}")
    aggs = []
    for col, fns in measures.items():
        for fn in fns:
            out_name = f"{fn}_{col}"
            if fn == "sum":
                aggs.append(F.sum(f"sum_{col}").alias(out_name))
            elif fn == "count":
                aggs.append(F.sum(f"count_{col}").alias(out_name))
            elif fn == "min":
                aggs.append(F.min(f"min_{col}").alias(out_name))
            elif fn == "max":
                aggs.append(F.max(f"max_{col}").alias(out_name))
            elif fn == "avg":
                aggs.append((F.sum(f"sum_{col}") / F.sum(f"count_{col}")).alias(out_name))
    return summary.groupBy(*group_cols).agg(*aggs)


def _derivable(fn: str, available: list[str]) -> bool:
    if fn in ("sum", "min", "max", "count"):
        return fn in available
    if fn == "avg":
        return "sum" in available and "count" in available
    return False


def _direct_aggs(measures: dict[str, list[str]]) -> list:
    out = []
    for col, fns in measures.items():
        for fn in fns:
            out.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return out
