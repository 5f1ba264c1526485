"""CarbonStore — the segment/manifest table lifecycle over Parquet.

This is the rebuild of the reference's core non-query machinery
(SURVEY.md §1.1, §2.10):

- table ("cube") with a dimension/measure split and sort columns
  (CREATE CUBE, CarbonSqlParser.scala:703-729)
- segment = one incremental load, a folder of files + a status entry
  (SegmentInfo, format/src/main/thrift/carbondata.thrift:31-34;
  table_status.thrift)
- SHOW LOADS / DELETE LOAD ids / DELETE ... BEFORE date (retention) /
  CLEAN FILES / compaction (cubeSchema.scala:1678-2523,
  CarbonMergerRDD.scala:31-234)
- schema evolution: ALTER add/drop columns with defaults, reconciled at
  read (schema.thrift:220-233 SchemaEvolutionEntry; RestructureUtil.java:128)

Layout on disk (mirrors the reference's store layout shape):

    <store>/<table>/
        schema.json              # current schema + properties + evolution log
        tablestatus.json         # manifest: [{segment_id, status, rows, ...}]
        Fact/Part0/Segment_<id>/ # parquet files of one load

Scale design: queries read only the manifest (driver-side, O(#segments))
then hand Spark an explicit list of valid segment directories — Spark
plans splits/locality from there exactly as for any parquet dataset, and
row-group min/max pruning works because loads are sorted on
``sort_columns`` within partitions (the Spark-native equivalent of the
reference's MDKey clustering + blocklet B-tree, SURVEY §1.5). Manifest
commits are lock + atomic-rename, safe for concurrent loaders.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark import pruning
from carbondata_spark.lock import file_lock

SEGMENT_SUCCESS = "Success"
SEGMENT_DELETED = "Marked for Delete"
SEGMENT_COMPACTED = "Compacted"
SEGMENT_IN_PROGRESS = "Load In Progress"
# tag of MERGE insert rows in a rewrite frame; never a segment id
_INSERT = -1


class TableNotFoundError(Exception):
    pass


@dataclass
class SegmentEntry:
    segment_id: int
    status: str
    rows: int
    load_start_ts: float
    load_end_ts: float
    columns: list[str] = field(default_factory=list)
    # per-sort-column {col: [min, max]} (JSON-encoded values) — the
    # manifest-level zone map used for segment pruning (the rebuild of the
    # reference's driver-side B-tree block pruning,
    # CarbonInputFormat.java:177-201)
    stats: dict[str, list] = field(default_factory=dict)
    # per-bloom-column {col: {"m", "k", "bits"}} — manifest bloom filters
    # for POINT-lookup segment pruning on high-cardinality columns whose
    # values interleave across segments (zone maps can't prune those; the
    # reference used its in-blocklet inverted index for this access path).
    # Opt-in via the table property ``bloom_columns``; see bloom.py.
    blooms: dict[str, dict] = field(default_factory=dict)
    # provenance tag, e.g. {"stream": query_name, "epoch": epoch_id} —
    # lets streaming replays detect an already-committed micro-batch
    # (exactly-once table contents across foreachBatch retries)
    origin: dict[str, Any] = field(default_factory=dict)
    # wall-clock of the commit that took this segment OUT of the live set
    # (delete/compact/overwrite). Drives time-travel reads: at as_of
    # between load_end_ts and invalidated_ts the segment was live. None
    # while live. Physical files persist until clean_files, exactly the
    # reference's deferred-removal design — so as-of views stay readable
    # until maintenance runs.
    invalidated_ts: float | None = None

    def to_json(self) -> dict[str, Any]:
        return {
            "segment_id": self.segment_id,
            "status": self.status,
            "rows": self.rows,
            "load_start_ts": self.load_start_ts,
            "load_end_ts": self.load_end_ts,
            "columns": self.columns,
            "stats": self.stats,
            "blooms": self.blooms,
            "origin": self.origin,
            "invalidated_ts": self.invalidated_ts,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "SegmentEntry":
        return SegmentEntry(
            segment_id=d["segment_id"],
            status=d["status"],
            rows=d["rows"],
            load_start_ts=d["load_start_ts"],
            load_end_ts=d["load_end_ts"],
            columns=d.get("columns", []),
            stats=d.get("stats", {}),
            blooms=d.get("blooms", {}),
            origin=d.get("origin", {}),
            invalidated_ts=d.get("invalidated_ts"),
        )


def _merge_origins(origins: list[dict[str, Any]]) -> dict[str, Any]:
    """Provenance for a segment that MERGES others (compaction).

    Losing the tags is not cosmetic: a rollup summary segment's
    ``fact_segments`` list is what refresh_aggregate_table and the
    routing staleness guard read — an untagged merged segment made the
    next refresh re-append full partials on top of the merged rows
    (double counting) while coverage LOOKED current. So:

    * ``fact_segments`` union — but only when EVERY input carries the
      tag; a partial union would under-state coverage, and the missing
      key makes agg_table's unsound-tag fallback rebuild instead.
    * every other distinct origin (streaming {stream, epoch} tags) is
      preserved under ``merged_origins`` (flattened across repeated
      compactions) so ``has_committed_origin`` keeps answering replay
      probes after auto_compact folded the micro-batch segments.
    """
    merged: dict[str, Any] = {}
    tagged = [o for o in origins if "fact_segments" in (o or {})]
    if origins and len(tagged) == len(origins):
        merged["fact_segments"] = sorted(
            {s for o in tagged for s in o["fact_segments"]}
        )
    prior: list[dict[str, Any]] = []
    seen: set[str] = set()
    for o in origins:
        o = o or {}
        # compacted_from is DIRECT-input provenance (this merge's inputs
        # are recorded fresh by compact(); a prior merge's input list is
        # meaningless on the new segment) — strip it like merged_origins
        # rather than letting it masquerade as a replay-probe origin.
        base = {
            k: v for k, v in o.items() if k not in ("merged_origins", "compacted_from")
        }
        for cand in ([base] if base and "fact_segments" not in base else []) + list(
            o.get("merged_origins", [])
        ):
            key = json.dumps(cand, sort_keys=True, default=str)
            if key not in seen:
                seen.add(key)
                prior.append(cand)
    if prior:
        merged["merged_origins"] = prior
    return merged


def _fresh_name(base: str, taken) -> str:
    """``base`` with underscores prepended until no name in ``taken``
    clashes — an internal helper column never shadows a table column."""
    while base in taken:
        base = f"_{base}"
    return base


# (store_path, table) -> (session, (schema stamp, status stamp), frame):
# the full-table resolution cache of CarbonStore.table() — see its
# docstring. One entry per table (latest stamp wins), plan-only.
# Bounded: each entry pins a JVM-side logical plan, and a long-lived
# process touching many throwaway stores (the test suite) would
# otherwise accumulate dead entries — evict insertion-oldest past the
# cap (dicts preserve insertion order; re-inserting on refresh is fine).
_RESOLVED_TABLES: dict[
    tuple[str, str], tuple[SparkSession, tuple, DataFrame]
] = {}
_RESOLVED_TABLES_CAP = 256
# segment directory -> (its _file_stamp, the parquet schema Spark inferred
# for it). A committed segment never changes (a rewrite gets a new id), so
# later reads pass the schema and skip Spark's schema-inference job; the
# stamp tells a directory recreated at the same path (DROP + CREATE) from
# the recorded one. Bounded like _RESOLVED_TABLES.
_SEGMENT_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}
_SEGMENT_SCHEMAS_CAP = 4096
_SEGMENT_SCHEMAS_LOCK = threading.Lock()


def _schema_of(meta: dict[str, Any]) -> T.StructType:
    """The table schema held in ``meta``. PySpark's ``StructType.fromJson``
    rewrites the collation metadata of the dict it parses, so a second
    parse of the same dict fails: it parses a copy."""
    return T.StructType.fromJson(copy.deepcopy(meta["schema"]))


def _bloom_columns(meta: dict[str, Any]) -> list[str]:
    """The table's ``bloom_columns`` property as a list."""
    return [
        c.strip()
        for c in meta.get("properties", {}).get("bloom_columns", "").split(",")
        if c.strip()
    ]


@contextlib.contextmanager
def _phase(spark: SparkSession, op: str, phase: str):
    """Describe the Spark jobs started inside as ``carbon:<op>:<phase>``
    (the UI's and the status store's job description), then restore the
    caller's description. The job group is left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"carbon:{op}:{phase}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _file_stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _atomic_write_json(path: str, payload: Any) -> None:
    tmp = f"{path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class CarbonStore:
    """Managed table store: create/load/read/segment lifecycle."""

    def __init__(self, spark: SparkSession, store_path: str):
        self.spark = spark
        self.store_path = store_path
        os.makedirs(store_path, exist_ok=True)

    # -- paths ------------------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.store_path, table)

    def _schema_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "schema.json")

    def _status_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "tablestatus.json")

    def _segment_dir(self, table: str, segment_id: int) -> str:
        return os.path.join(self._table_dir(table), "Fact", "Part0", f"Segment_{segment_id}")

    # -- metadata ---------------------------------------------------------

    def _read_schema(self, table: str) -> dict[str, Any]:
        try:
            with open(self._schema_path(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise TableNotFoundError(table) from None

    def _write_schema(self, table: str, meta: dict[str, Any]) -> None:
        _atomic_write_json(self._schema_path(table), meta)

    def _read_status(self, table: str) -> list[SegmentEntry]:
        try:
            with open(self._status_path(table)) as f:
                return [SegmentEntry.from_json(d) for d in json.load(f)]
        except FileNotFoundError:
            return []

    def _write_status(self, table: str, entries: list[SegmentEntry]) -> None:
        _atomic_write_json(self._status_path(table), [e.to_json() for e in entries])

    def _reserve(
        self, table: str, origins: list[dict[str, Any]], columns: list[str]
    ) -> list[int]:
        """Reserve one new segment id per origin, in one manifest round
        trip, as 'Load In Progress' entries (the reference's table_status
        state): concurrent writers never collide on a directory, readers
        ignore the entries, and ``_commit`` later publishes or drops them.
        The data is written outside the lock."""
        if not origins:
            return []
        with file_lock(self._status_path(table)):
            entries = self._read_status(table)
            first = max((e.segment_id for e in entries), default=-1) + 1
            ids = list(range(first, first + len(origins)))
            start = time.time()
            entries += [
                SegmentEntry(
                    segment_id=sid,
                    status=SEGMENT_IN_PROGRESS,
                    rows=0,
                    load_start_ts=start,
                    load_end_ts=0.0,
                    columns=list(columns),
                    origin=origin,
                )
                for sid, origin in zip(ids, origins)
            ]
            self._write_status(table, entries)
        return ids

    def _commit(
        self,
        table: str,
        reserved: list[int],
        publish: dict[int, tuple[int, dict, dict]],
        retire: frozenset[int] | set[int] = frozenset(),
        overwrite: bool = False,
    ) -> list[int]:
        """The one manifest swap of every writer (load, compact, DELETE,
        UPDATE, MERGE), under the lock and at ONE timestamp, so readers
        and time-travel views see the old segment set or the new one,
        never a mix or an empty window in between:

        - each ``publish`` id goes live with its (rows, stats, blooms);
        - each ``retire`` id goes 'Compacted', or, for an ``overwrite``,
          every live segment goes 'Marked for Delete';
        - each ``reserved`` id not published is marked deleted (its dir
          is clean_files prey).

        Aborts when a ``retire`` id is no longer live — a concurrent
        delete, overwrite or rewrite changed it, and publishing would
        resurrect or double-apply rows: every reserved id is then marked
        deleted and nothing else changes. Returns the ids that were no
        longer live; empty means committed.
        """
        with file_lock(self._status_path(table)):
            entries = self._read_status(table)
            ts = time.time()
            live = {e.segment_id for e in entries if e.status == SEGMENT_SUCCESS}
            lost = sorted(set(retire) - live)
            for e in entries:
                if e.segment_id in publish and not lost:
                    e.rows, e.stats, e.blooms = publish[e.segment_id]
                    e.status, e.load_end_ts = SEGMENT_SUCCESS, ts
                elif e.segment_id in reserved:
                    e.status, e.invalidated_ts = SEGMENT_DELETED, ts
                elif (
                    not lost
                    and e.status == SEGMENT_SUCCESS
                    and (overwrite or e.segment_id in retire)
                ):
                    e.status = SEGMENT_DELETED if overwrite else SEGMENT_COMPACTED
                    e.invalidated_ts = ts
            self._write_status(table, entries)
        return lost

    @staticmethod
    def _is_zorder(meta: dict[str, Any]) -> bool:
        """``clustering='zorder'`` table property (CREATE CUBE OPTIONS)
        switches load/compaction clustering from lexicographic sort to
        Morton interleaving of the sort columns (zorder.py)."""
        return (
            str(meta.get("properties", {}).get("clustering", "")).lower() == "zorder"
        )

    # -- DDL --------------------------------------------------------------

    def create_table(
        self,
        table: str,
        schema: T.StructType,
        sort_columns: list[str] | None = None,
        partition_columns: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> bool:
        """CREATE CUBE equivalent. Returns False when ``if_not_exists``
        finds the table already there, True when it was created.

        ``sort_columns`` defaults to the dimension columns (string /
        timestamp typed), mirroring the reference's dims-are-sorted rule
        (CarbonSqlParser.scala:532-546): data is clustered on them at load
        so parquet row-group stats prune like the blocklet B-tree.

        ``partition_columns`` become hive-style directory partitions inside
        every segment (the reference's PARTITIONER clause,
        CarbonSqlParser.scala:983-991) — Catalyst partition pruning then
        skips whole directories before any footer is read.
        """
        tdir = self._table_dir(table)
        if os.path.exists(self._schema_path(table)):
            if if_not_exists:
                return False
            raise ValueError(f"table {table} already exists")
        os.makedirs(tdir, exist_ok=True)
        properties = properties or {}
        clustering = str(properties.get("clustering", "sorted")).lower()
        if clustering not in ("sorted", "zorder"):
            raise ValueError(
                f"unknown clustering {clustering!r}: expected 'sorted' or 'zorder'"
            )
        schema = self.apply_reference_coercions(schema, properties)
        if sort_columns is None:
            # dims are sorted by default; DICTIONARY_INCLUDE promotes
            # numeric columns to dimensions (CarbonSqlParser.scala:541-546)
            dict_include = [
                c.strip() for c in properties.get("dictionary_include", "").split(",") if c.strip()
            ]
            sort_columns = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (T.StringType, T.TimestampType))
                or f.name in dict_include
            ]
        for pc in partition_columns or []:
            if pc not in schema.fieldNames():
                raise ValueError(f"partition column {pc} not in schema")
        # bloom_columns must exist (a typo would silently never compute a
        # filter) and must not be float/double: IEEE -0.0 == 0.0 compares
        # equal but hashes differently, so a float bloom could produce a
        # FALSE NEGATIVE — a dropped row, not just a missed prune.
        field_types = {f.name: f.dataType for f in schema.fields}
        for bc in [
            c.strip()
            for c in properties.get("bloom_columns", "").split(",")
            if c.strip()
        ]:
            if bc not in field_types:
                raise ValueError(f"bloom column {bc} not in schema")
            if isinstance(field_types[bc], (T.FloatType, T.DoubleType)):
                raise ValueError(
                    f"bloom column {bc} is floating-point: -0.0/0.0 "
                    "hash-equality divergence could drop rows — use an "
                    "integral, string, decimal, or date/timestamp key"
                )
        meta = {
            "name": table,
            "schema": json.loads(schema.json()),
            "sort_columns": sort_columns,
            "partition_columns": partition_columns or [],
            "properties": properties or {},
            "evolution": [],  # SchemaEvolutionEntry log (schema.thrift:220-233)
            "created_ts": time.time(),
        }
        self._write_schema(table, meta)
        self._write_status(table, [])
        return True

    def drop_table(self, table: str) -> None:
        self._read_schema(table)  # raise if missing
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def tables(self) -> list[str]:
        return [n for n in sorted(os.listdir(self.store_path)) if self.has_table(n)]

    def has_table(self, table: str) -> bool:
        """One stat of ``table``'s schema.json; ``tables()`` stats every table."""
        return os.path.exists(self._schema_path(table))

    def describe(self, table: str) -> dict[str, Any]:
        meta = self._read_schema(table)
        segs = self._read_status(table)
        out = {
            "name": table,
            "schema": _schema_of(meta).simpleString(),
            "sort_columns": meta["sort_columns"],
            "properties": meta["properties"],
            "segments": len([s for s in segs if s.status == SEGMENT_SUCCESS]),
            "total_rows": sum(s.rows for s in segs if s.status == SEGMENT_SUCCESS),
            "evolution_entries": len(meta["evolution"]),
        }
        live = [s for s in segs if s.status == SEGMENT_SUCCESS]
        # segments written before an ALTER DROP may still carry blooms
        # for the dropped column; health is reported only for columns in
        # the CURRENT schema
        fields = {f.name for f in _schema_of(meta).fields}
        bloom_cols = sorted({c for s in live for c in s.blooms if c in fields})
        if bloom_cols:
            import base64 as _b64

            # fill ratio = set bits / m: the filter's health metric — a
            # fill near 1.0 means the segment outgrew its sizing and the
            # bloom prunes (almost) nothing; ~0.5 is the design point
            health: dict[str, dict] = {}
            for c in bloom_cols:
                fills = []
                for s in live:
                    b = s.blooms.get(c)
                    if not b:
                        continue
                    bits = _b64.b64decode(b["bits"])
                    ones = sum(bin(x).count("1") for x in bits)
                    fills.append(ones / b["m"])
                health[c] = {
                    "segments_with_bloom": len(fills),
                    "max_fill": round(max(fills), 4) if fills else None,
                }
            out["bloom_health"] = health
        return out

    def schema(self, table: str) -> T.StructType:
        return _schema_of(self._read_schema(table))

    # -- load (LOAD DATA) -------------------------------------------------

    def load(
        self,
        table: str,
        df: DataFrame,
        mode: str = "append",
        partitions: int | None = None,
        refresh_aggregates: bool = True,
        origin: dict[str, Any] | None = None,
    ) -> int:
        """One incremental load → one new segment (LoadCube,
        cubeSchema.scala:1792-1968).

        The data is repartitioned then sorted within partitions on the
        table's sort columns before the parquet write — Spark's external
        sort replaces the reference's Kettle sort + MDKey clustering
        (SortDataRows.java, MDKeyGenStep.java) and produces row groups
        whose min/max statistics enable scan pruning at read.

        ``mode='overwrite'`` marks all prior segments deleted in the same
        manifest commit that registers the new one.

        ``refresh_aggregates`` reloads this table's aggregate (rollup)
        tables after the commit, mirroring the reference's per-load agg
        reload (CarbonDataLoadRDD.scala:306-345).
        """
        meta = self._read_schema(table)
        target = _schema_of(meta)
        df = self._conform(df, target)

        part_cols = meta.get("partition_columns", [])
        sort_cols = [
            c for c in meta["sort_columns"] if c in df.columns and c not in part_cols
        ]
        (seg_id,) = self._reserve(table, [origin or {}], target.fieldNames())
        # Write data outside the lock (long-running), commit manifest after.
        seg_dir = self._segment_dir(table, seg_id)
        writer = df
        if sort_cols and self._is_zorder(meta):
            # Morton-interleaved clustering instead of lexicographic:
            # every sort column gets row-group min/max locality, not just
            # the leading one (the reference's MDKey concatenation shares
            # lexicographic's trailing-column blindness — zorder.py).
            from carbondata_spark.zorder import cluster_writer

            writer = cluster_writer(writer, sort_cols, partitions, prefix_cols=part_cols)
        else:
            if partitions:
                # hive partition columns LEAD the range key: each value
                # then occupies a contiguous run of tasks, so partitionBy
                # emits ~row-share files per directory, not `partitions`
                keys = [*part_cols, *sort_cols]
                if keys:
                    writer = writer.repartitionByRange(partitions, *keys)
                else:
                    writer = writer.repartition(partitions)
            if sort_cols:
                writer = writer.sortWithinPartitions(*part_cols, *sort_cols)
        w = writer.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        with _phase(self.spark, "load", "write"):
            w.parquet(seg_dir)
        self._commit(
            table,
            [seg_id],
            self._seal("load", meta, {seg_id: seg_dir}),
            overwrite=mode == "overwrite",
        )

        if refresh_aggregates:
            from carbondata_spark.plans.agg_table import (
                AggregateTable,
                list_aggregate_tables,
                refresh_aggregate_table,
            )

            for name in list_aggregate_tables(self, table):
                refresh_aggregate_table(AggregateTable(self, table, name))
        return seg_id

    def _segment_rows_from_footers(
        self, seg_dir: str, metas: dict[str, Any] | None = None
    ) -> int:
        """Exact row count of a just-written segment from parquet footers
        — metadata only, no Spark job (at 100 TB the footer walk is the
        same bounded metadata pass the zone-map collection does). Pass
        ``metas`` (a ``_footer_metadata`` result) to reuse footers already
        read: every writer needs rows AND stats from the same segment, and
        reading each footer twice would double the driver's metadata I/O."""
        if metas is None:
            metas = self._footer_metadata(seg_dir)
        return sum(md.num_rows for md in metas.values())

    @staticmethod
    def _footer_metadata(seg_dir: str) -> dict[str, Any]:
        """{file -> parquet FileMetaData} for every parquet file under a
        segment dir (see ``_footer_metadata_many`` for the pooling)."""
        return CarbonStore._footer_metadata_many({0: seg_dir})[0]

    @staticmethod
    def _footer_metadata_many(
        seg_dirs: dict[int, str]
    ) -> dict[int, dict[str, Any]]:
        """{segment id -> {file -> parquet FileMetaData}} for MANY segment
        dirs through ONE flat thread pool. Footer reads are tiny I/O-bound
        requests (pyarrow releases the GIL); a segment-count scaling matrix showed
        a super-linear 16→32-segment step in broad-UPDATE wall time partly
        because the promotion loop walked each new segment's footers
        SERIALLY (one pool per segment — useless when a segment holds 1-2
        files), so the driver metadata pass grew O(#affected × footer
        latency). Flattening every (segment, file) pair into one pool
        bounded by the host core count makes it O(total files / pool
        width) — the shape that holds when a 100-TB MERGE promotes
        hundreds of rewrite segments against an object store."""
        import glob as _glob
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        pairs = [
            (sid, f)
            for sid, d in seg_dirs.items()
            for f in sorted(
                _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            )
        ]
        out: dict[int, dict[str, Any]] = {sid: {} for sid in seg_dirs}
        if not pairs:
            return out
        if len(pairs) == 1:
            sid, f = pairs[0]
            out[sid][f] = pq.ParquetFile(f).metadata
            return out
        workers = min(os.cpu_count() or 16, len(pairs), 64)
        with ThreadPoolExecutor(max_workers=workers) as ex:
            for (sid, f), md in zip(
                pairs, ex.map(lambda p: pq.ParquetFile(p[1]).metadata, pairs)
            ):
                out[sid][f] = md
        return out

    def _collect_segment_stats(
        self, seg_dir: str, cols: list[str], metas: dict[str, Any] | None = None
    ) -> dict[str, list]:
        """Per-segment [min, max] for the sort columns, from parquet row-
        group footers (metadata only, no data read) — the manifest zone map
        that lets ``scan`` prune whole segments the way the reference's
        driver B-tree prunes blocks (CarbonInputFormat.java:177-201).

        Values are in the stats domain of ``pruning.footer_value``; a
        column with a statless row group is skipped (never pruned on).
        """
        if not cols:
            return {}
        acc: dict[str, list] = {}
        unknown: set[str] = set()
        if metas is None:
            metas = self._footer_metadata(seg_dir)
        for md in metas.values():
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for c in cols:
                if c not in idx or c in unknown:
                    continue
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[c]).statistics
                    has = st is not None and st.has_min_max
                    mn = pruning.footer_value(st.min) if has else None
                    mx = pruning.footer_value(st.max) if has else None
                    if mn is None or mx is None:
                        unknown.add(c)  # never prune on a col with gaps
                        break
                    if c not in acc:
                        acc[c] = [mn, mx]
                    else:
                        acc[c] = [min(acc[c][0], mn), max(acc[c][1], mx)]
        return {c: v for c, v in acc.items() if c not in unknown}

    def _seal(
        self,
        op: str,
        meta: dict,
        seg_dirs: dict[int, str],
        carried: dict[int, dict] | None = None,
    ) -> dict[int, tuple[int, dict, dict]]:
        """{segment id: (rows, zone-map stats, blooms)} of just-written
        segment dirs, the ``publish`` argument of ``_commit``. Rows and
        stats come from one pooled footer read (metadata only, no Spark
        job). Blooms are taken from ``carried`` (segment id -> entries)
        where given; the rest are built together in one aggregation
        (``bloom.build_blooms``) over the segments read with the table
        schema, so no schema inference runs and a 0-row segment is not
        read at all."""
        part_cols = meta.get("partition_columns", [])
        sort_cols = [c for c in meta["sort_columns"] if c not in part_cols]
        metas = self._footer_metadata_many(seg_dirs)
        rows = {
            sid: self._segment_rows_from_footers(d, metas[sid])
            for sid, d in seg_dirs.items()
        }
        blooms = dict(carried or {})
        cols = _bloom_columns(meta)
        fresh = [sid for sid in seg_dirs if sid not in blooms]
        if cols and fresh:
            from carbondata_spark.bloom import build_blooms

            schema = _schema_of(meta)
            tag = _fresh_name("_cd_seg", schema.fieldNames())
            frame = functools.reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.schema(schema)
                    .parquet(seg_dirs[sid])
                    .withColumn(tag, F.lit(sid).cast("int"))
                    for sid in fresh
                ],
            )
            with _phase(self.spark, op, "bloom"):
                blooms.update(
                    build_blooms(frame, tag, cols, {sid: rows[sid] for sid in fresh})
                )
        return {
            sid: (
                rows[sid],
                self._collect_segment_stats(d, sort_cols, metas[sid]),
                blooms.get(sid, {}),
            )
            for sid, d in seg_dirs.items()
        }

    def scan(
        self,
        table: str,
        column: str | None = None,
        ge: Any = None,
        le: Any = None,
        eq: Any = None,
        isin: list | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """Segment-pruned scan: skip whole segments whose manifest
        [min,max] for ``column`` cannot intersect [ge, le], then apply the
        residual filter. Equivalent results to ``table().filter(...)``;
        at scale the pruned segments are never even listed.

        ``eq`` / ``isin`` are POINT lookups: each candidate segment is
        tested against its manifest zone map AND (when the table declares
        ``bloom_columns``) its bloom filter — so a needle-in-haystack key
        on a column whose values interleave across segments (where every
        segment's [min,max] spans the whole domain) still prunes to the
        segment(s) that may contain it. Bloom misses are probabilistic
        only toward keeping a segment (false positives read extra data);
        a pruned segment provably lacks the value, so results always
        equal ``table().filter(col.isin(...))``.

        ``as_of_ts`` composes pruning with time travel: the candidate set
        is the historical segment set at that instant.
        """
        if eq is not None and isin is not None:
            raise ValueError("pass eq or isin, not both")
        if eq is not None:
            isin = [eq]
        if isin is not None and (ge is not None or le is not None):
            raise ValueError("point lookup (eq/isin) excludes range bounds (ge/le)")
        if column is None:
            if isin is not None or ge is not None or le is not None:
                # silently returning the unfiltered table here would hand
                # a caller expecting a point lookup the WHOLE table —
                # wrong results, not just wasted IO; mirror the guards
                # above and fail loudly instead
                raise ValueError("eq/isin/ge/le require column=")
            return self.table(table, as_of_ts=as_of_ts)
        if isin is not None:
            conjuncts = [(column, "in", list(isin))]
        else:
            conjuncts = [
                (column, op, [v]) for op, v in ((">=", ge), ("<=", le)) if v is not None
            ]
        if as_of_ts is not None:
            # table()'s as-of selection is the candidate set, then prune
            # within it
            candidates = self._asof_segments(table, as_of_ts)
        else:
            candidates = self.valid_segments(table)
        keep = pruning.prune(candidates, self.schema(table), conjuncts)
        df = self.table(
            table, segment_ids=[e.segment_id for e in keep], as_of_ts=as_of_ts
        )
        if isin is not None:
            # Catalyst pushes this into the surviving parquet scans as an
            # In filter
            return df.filter(F.col(column).isin(list(isin)))
        if ge is not None:
            df = df.filter(F.col(column) >= F.lit(ge))
        if le is not None:
            df = df.filter(F.col(column) <= F.lit(le))
        return df

    def _conform(self, df: DataFrame, target: T.StructType) -> DataFrame:
        """Project/cast a DataFrame to the table schema (load-side of the
        reference's RestructureUtil)."""
        cols = []
        for fld in target.fields:
            if fld.name in df.columns:
                cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
        return df.select(*cols)

    @staticmethod
    def apply_reference_coercions(schema: T.StructType, properties: dict[str, str]) -> T.StructType:
        """Optional reference semantic quirk: integer MEASURES surface as
        double (`CarbonDatasourceRelation.scala:194-208`, the
        `case "int" => "double"` coercion). Off by default — modern Spark
        users expect exact integer types — but available for drop-in
        parity via table property ``int_measures_as_double=true``.
        Measures = numeric columns not listed in ``dictionary_include``
        (CarbonSqlParser.scala:541-546).
        """
        if properties.get("int_measures_as_double", "false").lower() != "true":
            return schema
        dims = {
            c.strip()
            for c in properties.get("dictionary_include", "").split(",")
            if c.strip()
        }
        fields = []
        for fld in schema.fields:
            if fld.name not in dims and isinstance(
                fld.dataType, (T.IntegerType, T.LongType, T.ShortType)
            ):
                fields.append(T.StructField(fld.name, T.DoubleType(), fld.nullable))
            else:
                fields.append(fld)
        return T.StructType(fields)

    # -- read -------------------------------------------------------------

    def valid_segments(self, table: str) -> list[SegmentEntry]:
        return [e for e in self._read_status(table) if e.status == SEGMENT_SUCCESS]

    def has_committed_origin(self, table: str, origin: dict[str, Any]) -> bool:
        """True if a Success segment with this provenance tag exists —
        the streaming replay-detection probe (see SegmentEntry.origin).
        A compacted segment answers for every origin it merged
        (``merged_origins``): auto_compact after streaming ingest must
        not reopen the exactly-once window for a foreachBatch retry of
        an epoch whose original segment was just folded away."""
        for e in self._read_status(table):
            if e.status != SEGMENT_SUCCESS:
                continue
            if e.origin == origin or origin in e.origin.get("merged_origins", []):
                return True
        return False

    def _asof_segments(
        self, table: str, as_of_ts: float, meta: dict | None = None
    ) -> list[SegmentEntry]:
        """The historical segment set live at ``as_of_ts`` — the SINGLE
        definition of the time-travel predicate, shared by ``table()`` and
        ``scan()`` (previously duplicated inline; the copies could drift).

        A segment is in the view iff it was committed by the instant
        (not in-progress, promoted to live, ``load_end_ts <= as_of``) and
        not yet invalidated by a later delete/compact/overwrite
        (``invalidated_ts`` absent or after the instant). Raises when the
        view predates the clean_files history floor or needs a segment
        whose files clean_files already removed.
        """
        meta = self._read_schema(table) if meta is None else meta
        created = meta.get("created_ts")
        if created is not None and as_of_ts < created:
            # distinct from "table empty at that instant": the table did
            # not EXIST — fail loud (history-floor precedent) rather than
            # return an empty frame that reads as "no data then"
            raise ValueError(
                f"time-travel view of {table}@{as_of_ts} predates table "
                f"creation ({created})"
            )
        floor = meta.get("history_floor_ts")
        if floor is not None and as_of_ts < floor:
            raise ValueError(
                f"time-travel view of {table}@{as_of_ts} predates the "
                f"history floor {floor}: clean_files removed segments "
                "that view needs"
            )
        segs = []
        for e in self._read_status(table):
            committed = (
                e.status != SEGMENT_IN_PROGRESS
                and e.load_end_ts > 0.0  # 0.0 = never promoted to live
                and e.load_end_ts <= as_of_ts
            )
            live_then = e.invalidated_ts is None or e.invalidated_ts > as_of_ts
            if committed and live_then:
                if not os.path.isdir(self._segment_dir(table, e.segment_id)):
                    raise ValueError(
                        f"time-travel view of {table}@{as_of_ts} needs segment "
                        f"{e.segment_id}, already removed by clean_files"
                    )
                segs.append(e)
        return segs

    def table(
        self,
        table: str,
        segment_ids: list[int] | None = None,
        as_of_ts: float | None = None,
        _tag_col: str | None = None,
    ) -> DataFrame:
        """DataFrame = union of valid segments (optionally a subset),
        aligned to current schema.

        Segments written before an ALTER carry their own column list; they
        are aligned by name with defaults filled (RestructureUtil.java:128
        / RestructureFilterExecuterImpl semantics) so old and new segments
        union cleanly.

        ``as_of_ts``: time-travel read — the segment set as it was live at
        that wall-clock instant (committed by then, not yet invalidated by
        a later delete/compact/overwrite). Works because physical removal
        is deferred to ``clean_files`` (the reference's deferred-delete
        design); a cleaned segment needed by the view raises.

        ``_tag_col`` (internal): append an int column carrying each row's
        segment id, derived from ``_metadata.file_path`` — so a MULTI-
        segment read stays ONE scan per column-group while remaining
        per-segment attributable (the IUD detection job's shape).

        The default full-table read (no segment subset, no as-of, no
        tag) caches its manifest -> segment-paths -> parquet-relation
        resolution per (store, table): spark.read.parquet re-lists and
        re-infers footer schemas on every call (~70 ms driver time per
        segment group, measured), pure overhead on repeated reads.
        Every manifest commit atomically replaces tablestatus.json (and
        ALTER replaces schema.json), so the (inode, mtime_ns, size)
        stamps of both files identify the resolution exactly — any
        load/compact/IUD/ALTER from this or another process yields a
        new stamp and the next call re-resolves. Results always
        recompute from the parquet bytes; only plan metadata is cached.

        Every read, subset or not, also reuses the parquet schema Spark
        inferred at an earlier read of the same committed segments
        (keyed on each segment directory and its stat stamp), so it
        starts no schema-inference job: committed segments never change,
        and a directory recreated at the same path gets a new stamp. The
        cast-and-default alignment above is unchanged.
        """
        if segment_ids is None and as_of_ts is None and _tag_col is None:
            try:
                stamp = (
                    _file_stamp(self._schema_path(table)),
                    _file_stamp(self._status_path(table)),
                )
            except OSError:
                stamp = None
            if stamp is not None:
                key = (self.store_path, table)
                hit = _RESOLVED_TABLES.get(key)
                if hit is not None and hit[0] is self.spark and hit[1] == stamp:
                    return hit[2]
                out = self._resolve_table(table)
                _RESOLVED_TABLES.pop(key, None)
                while len(_RESOLVED_TABLES) >= _RESOLVED_TABLES_CAP:
                    _RESOLVED_TABLES.pop(next(iter(_RESOLVED_TABLES)))
                _RESOLVED_TABLES[key] = (self.spark, stamp, out)
                return out
        return self._resolve_table(table, segment_ids, as_of_ts, _tag_col)

    def _resolve_table(
        self,
        table: str,
        segment_ids: list[int] | None = None,
        as_of_ts: float | None = None,
        _tag_col: str | None = None,
    ) -> DataFrame:
        meta = self._read_schema(table)
        target = _schema_of(meta)
        defaults: dict[str, Any] = {}
        for ev in meta["evolution"]:
            defaults.update(ev.get("defaults", {}))
        if as_of_ts is not None:
            segs = self._asof_segments(table, as_of_ts, meta=meta)
        else:
            segs = self.valid_segments(table)
        if segment_ids is not None:
            segs = [e for e in segs if e.segment_id in segment_ids]
        # a 0-row segment adds no rows, and its directory may hold no
        # parquet file to read a schema from (an empty partitioned write)
        segs = [e for e in segs if e.rows > 0]
        if not segs:
            if _tag_col is not None:
                target = T.StructType(
                    [*target.fields, T.StructField(_tag_col, T.IntegerType())]
                )
            return self.spark.createDataFrame([], target)

        current_cols = [f.name for f in target.fields]
        groups: dict[tuple[str, ...], list[int]] = {}
        for e in segs:
            key = tuple(e.columns or current_cols)
            groups.setdefault(key, []).append(e.segment_id)

        part_cols = meta.get("partition_columns", [])
        parts: list[DataFrame] = []
        for cols, seg_ids in groups.items():
            paths = [self._segment_dir(table, sid) for sid in seg_ids]
            if part_cols:
                # hive-style partition discovery is rooted per segment dir:
                # read each segment separately and union (filters still
                # push into every scan, so pruning is unaffected). The tag
                # is a per-read LITERAL here — the segment id is known at
                # plan time, and `_metadata` does not resolve through the
                # Union a multi-segment read becomes (a multi-candidate
                # tagged detection on a partitioned table hits exactly
                # that)
                raws = [self._read_segments([p]) for p in paths]
                if _tag_col is not None:
                    raws = [
                        r.withColumn(_tag_col, F.lit(sid).cast("int"))
                        for r, sid in zip(raws, seg_ids)
                    ]
                raw = raws[0]
                for r in raws[1:]:
                    raw = raw.unionByName(r)
            else:
                raw = self._read_segments(paths)
                if _tag_col is not None:
                    raw = raw.withColumn(
                        _tag_col,
                        F.regexp_extract(
                            F.col("_metadata.file_path"),
                            r"/Fact/Part0/Segment_(\d+)/",
                            1,
                        ).cast("int"),
                    )
            raw_types = {f.name: f.dataType for f in raw.schema.fields}
            sel = []
            for fld in target.fields:
                if fld.name in raw.columns:
                    # cast only on a real type change: casting a nested
                    # type to itself with different nullability flags is
                    # rejected by Spark (DATATYPE_MISMATCH), and
                    # no-op casts would defeat parquet column pruning
                    if raw_types[fld.name].simpleString() == fld.dataType.simpleString():
                        sel.append(F.col(fld.name))
                    else:
                        sel.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
                else:
                    default = defaults.get(fld.name)
                    sel.append(F.lit(default).cast(fld.dataType).alias(fld.name))
            if _tag_col is not None:
                sel.append(F.col(_tag_col))
            parts.append(raw.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_segments(self, paths: list[str]) -> DataFrame:
        """``spark.read.parquet(*paths)`` over committed segment dirs.
        When every dir has the same schema recorded under its current
        stamp, Spark is given it; otherwise Spark infers the schema and
        it is recorded for each dir."""
        try:
            stamps = [_file_stamp(p) for p in paths]
        except OSError:
            return self.spark.read.parquet(*paths)
        known = {
            hit[1] if (hit := _SEGMENT_SCHEMAS.get(p)) and hit[0] == st else None
            for p, st in zip(paths, stamps)
        }
        if len(known) == 1 and None not in known:
            return self.spark.read.schema(known.pop()).parquet(*paths)
        raw = self.spark.read.parquet(*paths)
        schema = raw.schema
        with _SEGMENT_SCHEMAS_LOCK:
            for p, st in zip(paths, stamps):
                _SEGMENT_SCHEMAS.pop(p, None)
                while len(_SEGMENT_SCHEMAS) >= _SEGMENT_SCHEMAS_CAP:
                    _SEGMENT_SCHEMAS.pop(next(iter(_SEGMENT_SCHEMAS)))
                _SEGMENT_SCHEMAS[p] = (st, schema)
        return raw

    def register_view(self, table: str, view_name: str | None = None) -> None:
        self.table(table).createOrReplaceTempView(view_name or table)

    # -- segment lifecycle ------------------------------------------------

    def show_segments(self, table: str) -> list[dict[str, Any]]:
        """SHOW LOADS (CarbonSqlParser.scala:1102-1124)."""
        return [e.to_json() for e in self._read_status(table)]

    def delete_segments(self, table: str, segment_ids: list[int]) -> int:
        """DELETE LOAD id,... — metadata-only status flip
        (cubeSchema.scala:1678-1736)."""
        flipped = 0
        with file_lock(self._status_path(table)):
            entries = self._read_status(table)
            for e in entries:
                if e.segment_id in segment_ids and e.status == SEGMENT_SUCCESS:
                    e.status = SEGMENT_DELETED
                    e.invalidated_ts = time.time()
                    flipped += 1
            self._write_status(table, entries)
        return flipped

    def delete_segments_by_date(self, table: str, before_ts: float) -> int:
        """Retention: DELETE FROM CUBE WHERE <date> BEFORE 'ts' — drops whole
        segments loaded before the cutoff (CarbonDeleteLoadByDateRDD,
        cubeSchema.scala:2400-2523)."""
        flipped = 0
        with file_lock(self._status_path(table)):
            entries = self._read_status(table)
            for e in entries:
                if e.status == SEGMENT_SUCCESS and e.load_start_ts < before_ts:
                    e.status = SEGMENT_DELETED
                    e.invalidated_ts = time.time()
                    flipped += 1
            self._write_status(table, entries)
        return flipped

    def clean_files(self, table: str, stale_in_progress_s: float = 86400.0) -> list[int]:
        """CLEAN FILES — physically remove deleted/compacted segment dirs
        (cubeSchema.scala:2457). Also GCs 'Load In Progress' entries older
        than ``stale_in_progress_s`` (crashed loads — the manifest, not
        the filesystem, defines table contents, so orphan dirs are safe to
        drop)."""
        removed = []
        floor = 0.0
        now = time.time()
        with file_lock(self._status_path(table)):
            entries = self._read_status(table)
            keep = []
            for e in entries:
                stale = (
                    e.status == SEGMENT_IN_PROGRESS
                    and now - e.load_start_ts > stale_in_progress_s
                )
                if e.status in (SEGMENT_DELETED, SEGMENT_COMPACTED) or stale:
                    shutil.rmtree(self._segment_dir(table, e.segment_id), ignore_errors=True)
                    removed.append(e.segment_id)
                    if not stale:
                        floor = max(floor, e.invalidated_ts or now)
                else:
                    keep.append(e)
            self._write_status(table, keep)
            # GC orphaned rewrite staging dirs (a mutation killed between
            # its staging write and the dir promotions leaves
            # `.rewrite_staging_<id>` behind — the finally-cleanup never
            # ran). Age-gated by the same grace as stale in-progress
            # entries; a LIVE mutation holds reserved in-progress entries
            # younger than that, so its staging is never touched.
            part_dir = os.path.join(self._table_dir(table), "Fact", "Part0")
            if os.path.isdir(part_dir):
                for name in os.listdir(part_dir):
                    p = os.path.join(part_dir, name)
                    if (
                        name.startswith(".rewrite_staging_")
                        and now - os.path.getmtime(p) > stale_in_progress_s
                    ):
                        shutil.rmtree(p, ignore_errors=True)
        if floor:
            # advance the time-travel history floor: views older than the
            # newest invalidation we just physically removed are no longer
            # reconstructible and must raise rather than silently shrink
            with file_lock(self._schema_path(table)):
                meta = self._read_schema(table)
                meta["history_floor_ts"] = max(meta.get("history_floor_ts", 0.0), floor)
                self._write_schema(table, meta)
        return removed

    def auto_compact(
        self,
        table: str,
        minor_threshold: int = 4,
        major_size_rows: int = 10_000_000,
    ) -> int | None:
        """Compaction policy (reference minor/major merge semantics):
        compact when ≥ ``minor_threshold`` small valid segments exist
        ('minor'); segments already larger than ``major_size_rows`` are
        left alone — they are re-merged only by an explicit ``compact``
        ('major'). Call after streaming ingest or frequent small loads.
        Empty (0-row) segments do not count toward the threshold — a
        compaction they trigger would rewrite the few real segments for
        nothing — but a compaction that runs folds them away too.
        """
        segs = [e for e in self.valid_segments(table) if e.rows < major_size_rows]
        if sum(1 for e in segs if e.rows > 0) < minor_threshold:
            return None
        return self.compact(table, segment_ids=[e.segment_id for e in segs])

    def _write_clustered(self, df, meta: dict, seg_dir: str, n_parts: int) -> None:
        """The shared segment write shape of compact() and the row-rewrite
        path: global range-sort (or z-order) across the data restores the
        clustering interleaved inputs destroyed. Hive partition columns
        lead the range key — each value stays contiguous across tasks, so
        the partitionBy write emits ~row-share files per directory instead
        of up to n_parts (the one-file-per-bucket layout
        build_ivf_index's compaction path relies on)."""
        part_cols = meta.get("partition_columns", [])
        sort_cols = [c for c in meta["sort_columns"] if c not in part_cols]
        writer = df
        if sort_cols and self._is_zorder(meta):
            from carbondata_spark.zorder import cluster_writer

            writer = cluster_writer(writer, sort_cols, n_parts, prefix_cols=part_cols)
        elif sort_cols or part_cols:
            keys = [*part_cols, *sort_cols]
            writer = writer.repartitionByRange(n_parts, *keys).sortWithinPartitions(*keys)
        w = writer.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(seg_dir)

    def _write_rewrites(
        self,
        table: str,
        out: DataFrame,
        rw_col: str,
        new_ids: list[int],
        meta: dict,
        total_rows: int,
        optional_ids: set[int] | None = None,
    ) -> dict[int, str]:
        """Write EVERY rewrite segment of a row-level mutation in ONE
        distributed Spark job (the reference's restructure/merge paths are
        likewise single distributed jobs — CarbonMergerRDD.scala:31-234),
        so the driver-blocking job count does not grow with the number of
        affected segments.

        ``out`` carries ``rw_col`` — each row's TARGET rewrite segment id.
        The target id LEADS the range key, so each rewrite segment's rows
        occupy a contiguous run of tasks and stay internally sort- (or
        z-order-) clustered — per-segment zone-map locality is exactly
        what one write per segment would give. The job
        writes once with ``partitionBy(rw_col)`` into a staging directory;
        each ``rw_col=<id>`` child is then promoted to its segment dir (a
        driver-side metadata rename, the same commit idiom as an HDFS
        output-committer move). Returns {segment id: its promoted dir};
        ``_seal`` then reads rows, zone maps and blooms.

        ``optional_ids``: targets ALLOWED to come out empty (e.g. a MERGE
        insert segment when every source row matched) — they are skipped
        instead of treated as lost data, and omitted from the result.
        """
        part_cols = meta.get("partition_columns", [])
        sort_cols = [c for c in meta["sort_columns"] if c not in part_cols]
        n_parts = max(len(new_ids), total_rows // 4_000_000)
        # Materialize the rewrite frame before the ranged write: the
        # RangePartitioner's bounds sampler executes the child plan once
        # and the shuffle map tasks execute it AGAIN — for a rewrite the
        # child is the full target-join transform, so the join would run
        # twice per mutation. persist(MEMORY_AND_DISK) stores the output
        # once and both passes read it back (measured -0.2s on the sf0.1
        # MERGE cycle; at scale a local read replaces a second full
        # scan+join of the affected segments). persist rather than
        # localCheckpoint because (a) the blocks are released
        # deterministically in the finally below instead of lingering
        # until the driver GCs the RDD reference, and (b) it is a cache
        # boundary the MERGE path's observe() detection metrics fire
        # under exactly once (a checkpointed plan swallows CollectMetrics
        # entirely — the write's plan is just the LogicalRDD). A block
        # lost to executor death recomputes its partition (sources are
        # deterministic) instead of failing the job; either way nothing
        # commits until the swap.
        from pyspark import StorageLevel

        cached = out.persist(StorageLevel.MEMORY_AND_DISK)
        writer = cached
        if sort_cols and self._is_zorder(meta):
            from carbondata_spark.zorder import ZVAL_COL, with_zvalue

            keys = [rw_col, *part_cols, ZVAL_COL]
            writer = (
                with_zvalue(writer, sort_cols)
                .repartitionByRange(n_parts, *keys)
                .sortWithinPartitions(*keys)
                .drop(ZVAL_COL)
            )
        else:
            keys = [rw_col, *part_cols, *sort_cols]
            writer = writer.repartitionByRange(n_parts, *keys).sortWithinPartitions(
                *keys
            )
        staging = os.path.join(
            self._table_dir(table), "Fact", "Part0", f".rewrite_staging_{min(new_ids)}"
        )
        try:
            writer.write.mode("overwrite").partitionBy(
                rw_col, *part_cols
            ).parquet(staging)
            seg_dirs: dict[int, str] = {}
            for new_id in sorted(new_ids):
                src = os.path.join(staging, f"{rw_col}={new_id}")
                if not os.path.isdir(src):
                    if optional_ids and new_id in optional_ids:
                        continue  # declared-optional target, legally empty
                    # a rewrite target with zero surviving rows is
                    # impossible by construction (full deletes never
                    # reserve a target; updates/merges preserve rows) —
                    # reaching here means the write itself lost data
                    raise RuntimeError(
                        f"rewrite write produced no rows for segment "
                        f"{new_id} of {table}; aborting before commit"
                    )
                seg_dir = self._segment_dir(table, new_id)
                if os.path.isdir(seg_dir):
                    shutil.rmtree(seg_dir)
                os.makedirs(os.path.dirname(seg_dir), exist_ok=True)
                os.rename(src, seg_dir)
                seg_dirs[new_id] = seg_dir
            return seg_dirs
        finally:
            cached.unpersist()
            shutil.rmtree(staging, ignore_errors=True)

    def compact(
        self,
        table: str,
        partitions: int | None = None,
        segment_ids: list[int] | None = None,
    ) -> int | None:
        """MERGE CUBE — merge valid segments (all, or the given subset)
        into one new sorted segment (CarbonMergerRDD.scala:31-234). Old
        segments flip to 'Compacted' in the same manifest commit; physical
        removal is deferred to clean_files, so concurrent readers of the
        old manifest stay valid.
        """
        meta = self._read_schema(table)
        segs = self.valid_segments(table)
        if segment_ids is not None:
            segs = [e for e in segs if e.segment_id in segment_ids]
        if len(segs) <= 1:
            return None
        old_ids = [e.segment_id for e in segs]
        merged = self.table(table, segment_ids=old_ids)
        origin = {
            **_merge_origins([e.origin for e in segs]),
            # direct-input provenance: lets an incremental consumer
            # (operators/segment_feed.py) prove a merged segment
            # re-materializes only rows it already delivered, and skip it
            "compacted_from": sorted(old_ids),
        }
        (new_id,) = self._reserve(
            table, [origin], _schema_of(meta).fieldNames()
        )
        seg_dir = self._segment_dir(table, new_id)
        n_parts = partitions or max(1, sum(e.rows for e in segs) // 4_000_000)
        with _phase(self.spark, "compact", "write"):
            self._write_clustered(merged, meta, seg_dir, n_parts)
        # The merged segment is freshly range-sorted: recompute its zone
        # map and blooms so compaction IMPROVES prunability instead of
        # silently losing it (a statless segment is kept by every scan),
        # and drops the false positives DELETEs left in carried blooms.
        # A source changed concurrently (DELETE LOAD, overwrite) aborts:
        # the merged segment would resurrect rows that change removed.
        sealed = self._seal("compact", meta, {new_id: seg_dir})
        lost = self._commit(table, [new_id], sealed, set(old_ids))
        return None if lost else new_id

    # -- row-level DELETE / UPDATE (copy-on-write rewrite) -----------------

    def delete_rows(self, table: str, predicate) -> int:
        """Row-level DELETE: every valid segment containing matching rows
        is rewritten WITHOUT them (copy-on-write); untouched segments are
        never rewritten, and provably-unaffected ones (manifest zone-map/
        bloom pre-prune) are never read at all — match detection is ONE
        Spark job over a segment-id-tagged union of the surviving
        candidates (see ``_mutate_rows``). Returns rows deleted.

        ``predicate``: a Column or a SQL expression string; rows where it
        evaluates TRUE are deleted (NULL keeps the row, like SQL DELETE).

        Each rewrite keeps its source's bloom entries, which describe a
        superset of its rows: no key it holds is ever pruned, and the
        deleted keys stay false positives until compaction.

        The reference era predates row-level IUD (its DELETEs are
        whole-load: cubeSchema.scala:1678-1736); later Apache CarbonData
        added exactly this copy-on-write shape, and a 100 TB corpus needs
        it (e.g. targeted takedown/PII deletes). The manifest swap is
        ``_commit``, as for compact(): provisional segments written
        first, then ONE commit flips every affected source to 'Compacted'
        and every rewrite to 'Success' at the same timestamp — concurrent readers see the old
        row set or the new one, never a torn mix, and a concurrent
        segment-state change aborts the whole rewrite (orphans GC'd by
        clean_files).
        """
        return self._mutate_rows(table, predicate, None)

    def update_rows(self, table: str, predicate, assignments: dict) -> int:
        """Row-level UPDATE ... SET: matching rows get ``assignments``
        ({column: Column|SQL-expression-string}) applied; all segment
        rewrite/commit semantics as ``delete_rows``. Returns rows updated.
        Rewrites keep their sources' bloom entries unless an assignment
        targets a bloom column.
        Assignment columns must exist in the schema (raises otherwise —
        UPDATE never widens the schema; use alter_add_columns)."""
        if not assignments:
            raise ValueError("update_rows requires at least one assignment")
        fields = {f.name for f in self.schema(table).fields}
        unknown = [c for c in assignments if c not in fields]
        if unknown:
            raise ValueError(f"UPDATE SET on unknown columns: {unknown}")
        return self._mutate_rows(table, predicate, assignments)

    def _mutate_rows(self, table: str, predicate, assignments: dict | None) -> int:
        """Copy-on-write row mutation, shaped for scale:

        1. manifest zone-map/bloom pre-prune of the candidate segments
           (``pruning.prune``, metadata only — a targeted DELETE never
           lists, let alone reads, provably-unaffected segments);
        2. ONE detection job over a segment-id-tagged union of the
           candidates (``table(_tag_col=...)``, one scan per column
           group, predicate pushed into parquet) yields per-segment
           match counts, instead of one ``filter(pred).count()`` job per
           segment;
        3. ``_rewrite`` writes the replacement of every affected segment
           in ONE distributed job and commits them all in ONE manifest
           swap. A segment whose every row is deleted gets no
           replacement; the swap only retires it.
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred = pred.cast("boolean")
        meta = self._read_schema(table)
        schema = _schema_of(meta)
        conjuncts = (
            pruning.sql_prunable_conjuncts(predicate)
            if isinstance(predicate, str)
            else []
        )
        candidates = pruning.prune(self.valid_segments(table), schema, conjuncts)
        if not candidates:
            return 0
        tag = _fresh_name("_cd_seg", schema.fieldNames())
        tagged = self.table(
            table, segment_ids=[e.segment_id for e in candidates], _tag_col=tag
        )
        op = "delete" if assignments is None else "update"
        with _phase(self.spark, op, "detect"):
            counts = {
                row[0]: int(row[1])
                for row in tagged.filter(pred)
                .groupBy(tag)
                .agg(F.count(F.lit(1)))
                .collect()
            }
        affected = [e for e in candidates if counts.get(e.segment_id, 0) > 0]
        if not affected:
            return 0
        hit = F.coalesce(pred, F.lit(False))
        if assignments is None:
            sources = [e for e in affected if counts[e.segment_id] < e.rows]

            def rows(frame, _tag):
                return frame.filter(~hit)

        else:
            sources = affected

            def rows(frame, _tag):
                def assign(c, a):
                    new = F.expr(a) if isinstance(a, str) else a
                    return (
                        F.when(hit, new)
                        .otherwise(F.col(c))
                        .cast(frame.schema[c].dataType)
                        .alias(c)
                    )

                return frame.select(
                    *[
                        assign(c, assignments[c]) if c in assignments else F.col(c)
                        for c in frame.columns
                    ]
                )

        self._rewrite(
            table,
            meta,
            sources,
            op,
            rows,
            retired=lambda: {e.segment_id for e in affected},
            carry=not set(assignments or ()) & set(_bloom_columns(meta)),
        )
        return sum(counts.values())

    def _rewrite(
        self,
        table: str,
        meta: dict,
        sources: list[SegmentEntry],
        op: str,
        rows,
        retired,
        insert_rows: int | None = None,
        carry: bool = False,
    ) -> int:
        """The copy-on-write tail shared by DELETE, UPDATE and MERGE:
        reserve one rewrite segment per source segment — per-segment
        zone-map locality, never one global sort over their union — plus
        an insert segment when ``insert_rows`` (the expected insert row
        count) is given; write them all in ONE distributed job
        (``_write_rewrites``); seal the ones the swap publishes
        (``_seal``); then ``_commit`` them in ONE swap.

        ``carry``: the rewrite leaves every bloom column's values alone,
        or only removes rows. A rewrite whose source has a bloom for each
        bloom column then keeps the source's entries (see bloom.py);
        other segments get a fresh build.

        ``rows(frame, tag)`` returns the rows to write. Each carries in
        column ``tag`` the id of the source segment it replaces rows of,
        or ``_INSERT`` for the insert segment, which may come out empty.
        ``frame`` holds the sources' rows tagged that way (None without
        sources). After the write, ``retired()`` names the segments the
        swap retires; the rewrite of a source it
        leaves out never goes live. A retired segment that changed state
        concurrently aborts the swap and raises RuntimeError; no rows
        change. Returns the number of rows the insert segment received.
        """
        cols = _schema_of(meta).fieldNames()
        src_ids = [e.segment_id for e in sources]
        tags = list(src_ids)
        origins = [{"rewrite_of": sid, "op": op} for sid in src_ids]
        if insert_rows is not None:
            tags.append(_INSERT)
            origins.append({"op": "merge_insert"})
        reserved = self._reserve(table, origins, cols)
        new_of = dict(zip(tags, reserved))
        bloom_cols = _bloom_columns(meta) if carry else []
        carried = {
            new_of[e.segment_id]: {c: e.blooms[c] for c in bloom_cols}
            for e in sources
            if bloom_cols and all(c in e.blooms for c in bloom_cols)
        }
        written: dict[int, str] = {}
        if reserved:
            tag = _fresh_name("_cd_seg", cols)
            rw = _fresh_name("_cd_rw", [*cols, tag])
            frame = (
                self.table(table, segment_ids=src_ids, _tag_col=tag)
                if sources
                else None
            )
            id_map = F.create_map(*[F.lit(v) for kv in new_of.items() for v in kv])
            out = (
                rows(frame, tag)
                .withColumn(rw, F.element_at(id_map, F.col(tag)).cast("int"))
                .drop(tag)
            )
            total = sum(e.rows for e in sources) + (insert_rows or 0)
            # optional_ids only with an insert segment: wrappers of
            # _write_rewrites may take just its six positional arguments
            kw = {} if insert_rows is None else {"optional_ids": {new_of[_INSERT]}}
            with _phase(self.spark, op, "write"):
                written = self._write_rewrites(table, out, rw, reserved, meta, total, **kw)
        retire = retired()
        publish = self._seal(
            op,
            meta,
            {
                new_of[s]: written[new_of[s]]
                for s in [*retire, _INSERT]
                if new_of.get(s) in written
            },
            carried,
        )
        lost = self._commit(table, reserved, publish, retire)
        if lost:
            what = "MERGE" if op == "merge" else "row rewrite"
            raise RuntimeError(
                f"{what} aborted: segments {lost} changed state "
                "concurrently; no rows were modified"
            )
        ins = new_of.get(_INSERT)
        return publish[ins][0] if ins in publish else 0

    # -- MERGE INTO (upsert) -----------------------------------------------


    def merge_rows(
        self,
        table: str,
        source: DataFrame,
        keys: str | list[str],
        update_cols: list[str] | None = None,
        insert: bool = True,
    ) -> dict[str, int]:
        """MERGE INTO (upsert): rows of ``source`` whose ``keys`` match a
        target row UPDATE it (``update_cols``, default all non-key
        columns); unmatched source rows are INSERTED as a new segment
        (``insert=False`` ignores them — update-only CDC). Returns
        ``{"updated": n, "inserted": m}``. ``update_cols=[]`` is the
        INSERT-ONLY merge (WHEN NOT MATCHED only): matched rows stay
        untouched, no segment is rewritten, and only the genuinely-new
        rows are appended (idempotent backfill).

        The reference era predates MERGE (like row-level IUD); later
        Apache CarbonData added exactly this CDC shape, and a 100 TB
        training corpus needs it (late corrections, metadata backfills,
        dedup-survivor upserts). Scale shape, sharing the copy-on-write
        pipeline of row-level DELETE/UPDATE (``_rewrite``):

        1. ONE bounded job over the source computes totals, the
           key-uniqueness guard (duplicate source keys are an ambiguous
           update and raise), and per-segment row-granular zone-map hit
           counts (``pruning.zone_hit_conditions``) — a segment no source
           row's keys fall inside provably holds no match and is pruned;
        2. the candidate segments are rewritten in ONE distributed job,
           joined against the source a single time, into ONE rewrite
           segment PER candidate (``_write_rewrites``: the target id
           leads the range key, so each rewrite stays internally sorted
           with fresh zone maps and per-segment locality, and keeps its
           source's blooms unless ``update_cols`` holds a bloom column — a
           merge touching N segments never degenerates into one global
           sort over their union); match detection rides the same job as
           ``observe()`` metrics (matched-row count + the set of
           segments holding >=1 match), and unmatched source rows ride
           the same write as the insert segment (anti-join against the
           CANDIDATE segments' keys only — sound because pruning proved
           no other segment holds any source key);
        3. ONE all-or-nothing manifest swap commits the rewrites of the
           segments the metrics proved matched (a candidate without
           matches keeps its original; its no-op rewrite never goes
           live) plus the insert segment, and retires the affected
           sources at a single timestamp.

        Feed semantics (operators/segment_feed.py): the merged rewrite
        carries ``origin["rewrite_of"]`` so an append-feed skips it; the
        insert segment is a normal append and delivers — a downstream
        consumer sees exactly the genuinely-new rows.

        Source rows with a NULL in any key column never match (SQL
        equality) and are inserted when ``insert=True``.
        """
        meta = self._read_schema(table)
        target = _schema_of(meta)
        tcols = [f.name for f in target.fields]
        keys = [keys] if isinstance(keys, str) else list(keys)
        missing = [k for k in keys if k not in tcols]
        if missing:
            raise ValueError(f"MERGE keys not in {table}'s schema: {missing}")
        if update_cols is None:
            update_cols = [c for c in tcols if c not in keys]
        bad = [c for c in update_cols if c not in tcols or c in keys]
        if bad:
            raise ValueError(
                f"MERGE update columns must be non-key table columns: {bad}"
            )
        # update_cols=[] is the INSERT-ONLY merge (WHEN NOT MATCHED only):
        # matched rows stay untouched, so no segment is rewritten and no
        # detection job runs — unmatched rows are anti-joined against the
        # zone-map CANDIDATES directly (sound: non-candidates provably
        # hold no source key).
        insert_only = not update_cols
        if insert_only and not insert:
            raise ValueError(
                "MERGE with update_cols=[] and insert=False does nothing"
            )
        if insert:
            miss_src = [c for c in tcols if c not in source.columns]
            if miss_src:
                raise ValueError(
                    "MERGE with insert=True needs the full table schema "
                    f"in the source; missing: {miss_src}"
                )
            src = self._conform(source, target)
        else:
            needed = [c for c in tcols if c in set(keys) | set(update_cols)]
            miss_src = [c for c in needed if c not in source.columns]
            if miss_src:
                raise ValueError(f"MERGE source missing columns: {miss_src}")
            src = source.select(
                *[F.col(c).cast(target[c].dataType).alias(c) for c in needed]
            )

        # ONE bounded job: totals, key uniqueness and per-segment
        # row-granular zone-map hit counts ("does ANY source row fall
        # inside this segment's key ranges") — the candidate prune, riding
        # the same single pass over the source. Match detection rides the
        # rewrite write as observe() metrics, one action fewer per MERGE.
        # The trade: a candidate whose zone maps overlap the source but
        # which holds no actual match is rewritten and discarded at the
        # swap; the row-granular prune keeps that set small.
        key_notnull = F.lit(True)
        for k in keys:
            key_notnull = key_notnull & F.col(k).isNotNull()
        aggs = [
            F.count(F.lit(1)).alias("_n"),
            F.count(F.when(key_notnull, 1)).alias("_nn"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("_nd"),
        ]
        # 0-row segments hold no matches and no keys: never candidates
        # (a 0-row rewrite target would also trip _write_rewrites'
        # lost-data guard, since the left join emits nothing for it)
        segs = [e for e in self.valid_segments(table) if e.rows > 0]
        hits = pruning.zone_hit_conditions(segs, keys, target)
        bounds: list[str] = []
        if hits is not None:
            aggs += [
                F.count(F.when(cond, 1)).alias(f"_hit_{sid}")
                for sid, cond in hits.items()
                if cond is not None
            ]
        else:
            # too many segments for per-segment counts: prune on the
            # source's whole key range (the expression count stays fixed)
            for k in keys:
                col = pruning.stats_column(k, target[k].dataType)
                if col is not None:
                    bounds.append(k)
                    aggs += [F.min(col).alias(f"_mn_{k}"), F.max(col).alias(f"_mx_{k}")]
        with _phase(self.spark, "merge", "detect"):
            stat = src.agg(*aggs).collect()[0]
        if stat["_n"] == 0:
            return {"updated": 0, "inserted": 0}
        if stat["_nd"] < stat["_nn"]:
            raise ValueError(
                "MERGE source has duplicate keys "
                f"({stat['_nn']} keyed rows, {stat['_nd']} distinct): "
                "ambiguous update — dedup the source first"
            )
        if hits is not None:
            candidates = [
                e
                for e in segs
                if hits[e.segment_id] is None or stat[f"_hit_{e.segment_id}"] > 0
            ]
        else:
            candidates = pruning.prune(
                segs,
                target,
                [
                    (k, op, [stat[f"{agg}_{k}"]])
                    for k in bounds
                    for op, agg in ((">=", "_mn"), ("<=", "_mx"))
                ],
            )
        targets = [] if insert_only else candidates
        if not targets and not insert:
            return {"updated": 0, "inserted": 0}

        obs = Observation()
        matched_col = _fresh_name("_cd_m", tcols)

        def rows(frame, tag):
            parts = []
            if frame is not None:
                t = frame.alias("t")
                s = src.withColumn(matched_col, F.lit(True)).alias("s")
                cond = F.lit(True)
                for k in keys:
                    cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
                matched = F.col(f"s.{matched_col}").isNotNull()
                sel = [
                    F.when(matched, F.col(f"s.{f.name}"))
                    .otherwise(F.col(f"t.{f.name}"))
                    .cast(f.dataType)
                    .alias(f.name)
                    if f.name in update_cols
                    else F.col(f"t.{f.name}").alias(f.name)
                    for f in target.fields
                ]
                # the matched-row count and the set of segments holding
                # >=1 match fire exactly once: _write_rewrites' persist
                # boundary sits ABOVE this node, so the range-bounds
                # sampler materializes it once and the shuffle map tasks
                # read blocks
                mt = _fresh_name("_cd_mt", [*tcols, tag])
                parts.append(
                    t.join(s, cond, "left")
                    .select(*sel, F.col(f"t.{tag}").alias(tag), matched.alias(mt))
                    .observe(
                        obs,
                        F.count(F.when(F.col(mt), 1)).alias("_updated"),
                        F.collect_set(F.when(F.col(mt), F.col(tag))).alias(
                            "_affected"
                        ),
                    )
                    .drop(mt)
                )
            if insert:
                # unmatched source rows: anti-join against the candidates'
                # keys only — sound because pruning proved no other
                # segment holds any source key. With a rewrite they ride
                # its write, which spares a second write job and key scan
                # without changing the broadcast shape of either join.
                ids = [e.segment_id for e in candidates]
                anti = frame if frame is not None else (
                    self.table(table, segment_ids=ids) if ids else None
                )
                ins = src if anti is None else src.join(
                    anti.select(*keys), keys, "left_anti"
                )
                parts.append(ins.select(*tcols, F.lit(_INSERT).alias(tag)))
            return functools.reduce(DataFrame.unionByName, parts)

        def retired() -> set[int]:
            # the detection metrics fired during the write; get is
            # non-blocking here. A candidate without matches keeps its
            # original segment and its no-op rewrite never goes live.
            return {int(x) for x in obs.get["_affected"] or []} if targets else set()

        inserted = self._rewrite(
            table,
            meta,
            targets,
            "merge",
            rows,
            retired=retired,
            insert_rows=int(stat["_n"]) if insert else None,
            carry=not set(update_cols) & set(_bloom_columns(meta)),
        )
        updated = int(obs.get["_updated"] or 0) if targets else 0
        return {"updated": updated, "inserted": inserted}

    # -- schema evolution (ALTER CUBE) ------------------------------------

    def alter_add_columns(
        self, table: str, new_fields: list[T.StructField], defaults: dict[str, Any] | None = None
    ) -> None:
        """ALTER CUBE ADD — new columns visible over old segments with the
        given defaults (CarbonSqlParser.scala:731-776)."""
        with file_lock(self._schema_path(table)):
            meta = self._read_schema(table)
            schema = _schema_of(meta)
            existing = {f.name for f in schema.fields}
            for fld in new_fields:
                if fld.name in existing:
                    raise ValueError(f"column {fld.name} already exists")
                schema = schema.add(fld)
            meta["schema"] = json.loads(schema.json())
            meta["evolution"].append(
                {
                    "ts": time.time(),
                    "added": [f.name for f in new_fields],
                    "removed": [],
                    "defaults": defaults or {},
                }
            )
            self._write_schema(table, meta)

    def alter_drop_columns(self, table: str, names: list[str]) -> None:
        """ALTER CUBE DROP — columns disappear from reads of all segments."""
        with file_lock(self._schema_path(table)):
            meta = self._read_schema(table)
            schema = _schema_of(meta)
            missing = set(names) - {f.name for f in schema.fields}
            if missing:
                raise ValueError(f"no such columns: {sorted(missing)}")
            kept = [f for f in schema.fields if f.name not in names]
            meta["schema"] = json.loads(T.StructType(kept).json())
            meta["sort_columns"] = [c for c in meta["sort_columns"] if c not in names]
            if meta.get("properties", {}).get("bloom_columns"):
                meta["properties"]["bloom_columns"] = ",".join(
                    c for c in _bloom_columns(meta) if c not in names
                )
            meta["evolution"].append(
                {"ts": time.time(), "added": [], "removed": list(names), "defaults": {}}
            )
            self._write_schema(table, meta)
