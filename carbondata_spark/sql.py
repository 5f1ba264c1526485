"""Carbon SQL front-end: management DDL router + Spark SQL passthrough.

Reference parity: CarbonContext.sql tries the Carbon DDL/DML grammar
first and falls back to HiveQL for everything else
(CarbonSqlParser.scala:161-177). Here the management grammar is a
table of ``(pattern, handler)`` entries over the CarbonStore API, one
entry per statement (``_ROUTES``, tried in order, first match wins);
SELECT and any unmatched statement go straight to ``spark.sql`` after
registering the store's tables as views — so the full Spark SQL surface
is the query language, exactly as the reference delegates to HiveContext.

Matching is case-insensitive over the ORIGINAL statement text and all
identifiers/literals are extracted from the original (never a lowered
copy), so mixed-case table/column names and quoted default values
round-trip exactly; only keywords are case-folded. Whitespace runs
outside quoted literals collapse to one space; literals keep theirs.
Table names resolve case-insensitively against the store, like the
reference's Hive-backed catalog. The store is one namespace, so every
``<t>`` accepts an ignored ``schema.`` qualifier and ``IN <schema>``
filters are no-ops.

Supported statements (keywords case-insensitive; CUBE|TABLE marks two
spellings of one statement):

    SHOW TABLES
    SHOW [ALL] CUBES [IN s] [DETAIL]
    SHOW SCHEMAS|DATABASES
    USE s
    CREATE TABLE [IF NOT EXISTS] <t> (<col> <type>, ...)
        [SORTED BY (c, ...)] [PARTITIONED BY (c, ...)]
    CREATE TABLE [IF NOT EXISTS] <t> (<col> <type>, ...)
        [PARTITIONED BY (<col> <type>, ...)]
        STORED BY 'org.apache.carbondata.format' [TBLPROPERTIES ('k'='v', ...)]
                    -- CarbonSqlParser.scala:316-418
    CREATE CUBE [IF NOT EXISTS] <t> DIMENSIONS (c type, ...)
        [MEASURES (m type, ...)] [OPTIONS (PARTITIONER [...],
        NO_DICTIONARY (c, ...), AGGREGATION [agg(m), ...], 'k'='v', ...)]
                    -- CarbonSqlParser.scala:703-729
    ALTER CUBE <t> [DROP (c, ...)] [ADD [DIMENSIONS (...)] [MEASURES (...)]]
        [OPTIONS (NO_DICTIONARY (...), AGGREGATION [...], DEFAULTS [c=v, ...])]
                    -- CarbonSqlParser.scala:731-776
    ALTER TABLE <t> ADD COLUMNS (<col> <type>, ...) [DEFAULTS (c=v, ...)]
    ALTER TABLE <t> DROP COLUMNS (c, ...)
    ALTER TABLE <t> COMPACT                -- MERGE
    DROP CUBE|TABLE [IF EXISTS] <t>
    DESCRIBE|DESC [FORMATTED|EXTENDED] <t>
    SHOW CREATE CUBE <t>                   -- refused: designed out
    LOAD DATA [LOCAL] INPATH '<path>' [OVERWRITE] INTO CUBE|TABLE <t>
        [OPTIONS|PARTITIONDATA (...)] [FIELDS TERMINATED BY 'd']
    LOAD DATA FACT FROM '<path>' [OVERWRITE] INTO CUBE|TABLE <t> [...]
                    -- CarbonSqlParser.scala:779-834 option surface;
                    -- DIMENSION FROM is refused (flat-table model)
    SHOW SEGMENTS|LOADS FOR CUBE|TABLE <t> [LIMIT n]
    DELETE LOAD|SEGMENTS <id,...> FROM CUBE|TABLE <t>
    DELETE [SEGMENTS] FROM CUBE|TABLE <t> WHERE <col|STARTTIME> BEFORE '<ts>'
    CLEAN FILES FOR CUBE|TABLE <t>
    DELETE FROM [CUBE|TABLE] <t> WHERE <predicate>     -- row-level
    UPDATE [CUBE|TABLE] <t> SET c = <expr>, ... [WHERE <predicate>]
    MERGE INTO <t> USING <src> ON (k, ...) | ON t.k = s.k [AND ...]
        [WHEN MATCHED THEN UPDATE SET * | c = s.c, ...]
        [WHEN NOT MATCHED THEN INSERT *]
                    -- row-level DELETE/UPDATE/MERGE on a table outside
                    -- the store go to Spark unchanged
    CREATE AGGREGATETABLE <dims and agg(m)s> FROM CUBE|TABLE <t>  -- autoN
    CREATE AGGREGATETABLE <name> FROM CUBE|TABLE <t>
        GROUP BY (d1, ...) AGGREGATES (agg(m1), ...)
                    -- CarbonSqlParser.scala:182-224
    SHOW AGGREGATE TABLES [IN s | FOR CUBE|TABLE <t>]
    DROP AGGREGATE TABLE [IF EXISTS] [<fact>.]<name> [ON CUBE|TABLE <t>]
    SELECT ... FROM <t> AS OF TIMESTAMP '<iso>'   -- time-travel read
    <anything else>                        -- spark.sql passthrough; a
        simple ``SELECT dims, aggs FROM fact GROUP BY dims`` over a store
        table is transparently answered from a matching aggregate
        (rollup) table when one can derive every requested aggregate
        (SURVEY §7 M4 — the rewrite the reference's live planner lacked).
"""

from __future__ import annotations

import glob
import itertools
import os
import re
import tempfile
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.plans.agg_table import (
    choose_rollup,
    create_aggregate_table,
    drop_aggregate_table,
    list_aggregate_tables,
)
from carbondata_spark.store import SEGMENT_SUCCESS, CarbonStore

_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "numeric": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
    # bare `decimal` (no precision) is legal in the reference's grammar
    # (FilterProcessor_FT.scala creates `ID decimal` dimensions); Hive's
    # default decimal precision applies.
    "decimal": T.DecimalType(10, 0),
}

_I = re.IGNORECASE


def _parse_type(s: str) -> T.DataType:
    """DDL type string → Spark type; keywords case-insensitive, struct
    field names case-preserving. Handles nesting: array<struct<...>>,
    struct<a:int, b:array<double>> (CarbonSqlParser.scala:905-933
    accepts the same surface)."""
    s = s.strip()
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s, _I)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"array\s*<(.+)>", s, _I)
    if m:
        return T.ArrayType(_parse_type(m.group(1)))
    m = re.fullmatch(r"struct\s*<(.+)>", s, _I)
    if m:
        fields = []
        for part in _split_cols(m.group(1)):
            fname, ftype = part.split(":", 1)
            fields.append(T.StructField(fname.strip(), _parse_type(ftype)))
        return T.StructType(fields)
    if s.lower() in _TYPES:
        return _TYPES[s.lower()]
    raise ValueError(f"unsupported type: {s}")


def _fields(cols_s: str | None) -> list[T.StructField]:
    """``c1 type1, c2 type2, ...`` column definitions → StructFields."""
    fields = []
    for part in _split_cols(cols_s or ""):
        cname, ctype = part.strip().split(None, 1)
        fields.append(T.StructField(cname, _parse_type(ctype)))
    return fields


def _names(s: str | None) -> list[str]:
    """``a, 'b', ...`` → [a, b]: a comma list of optionally quoted names."""
    return [c.strip().strip("'\"") for c in (s or "").split(",") if c.strip()]


def _measures(exprs: str) -> dict[str, list[str]]:
    """``sum(a), count(a), max(b)`` → {a: [sum, count], b: [max]}."""
    measures: dict[str, list[str]] = {}
    for fn, col in re.findall(r"(\w+)\s*\(\s*(\w+)\s*\)", exprs):
        measures.setdefault(col, []).append(fn.lower())
    return measures


def _defaults(s: str) -> dict[str, str]:
    """``c = v, c2 = 'v2'`` → {c: v, c2: v2}, the default fills of added
    columns."""
    out: dict[str, str] = {}
    for pair in _split_cols(s):
        if "=" not in pair:
            raise ValueError(f"DEFAULTS: cannot parse {pair!r}")
        k, v = pair.split("=", 1)
        out[k.strip()] = v.strip().strip("'\"")
    return out


def _lift(opts_s: str, clause: str) -> tuple[str | None, str]:
    """Cut the first match of ``clause`` out of an OPTIONS body: returns
    (its one group, or None when absent; the rest of the body)."""
    m = re.search(clause, opts_s, _I)
    if m is None:
        return None, opts_s
    return m.group(1), opts_s.replace(m.group(0), "")


def _lift_dimension_options(opts_s: str) -> tuple[list[str], str | None, str]:
    """The reference's structured cube OPTIONS clauses
    (CarbonSqlParser.scala noDictionaryDims:975, aggregation:973) carry
    bracketed payloads the flat k=v option parser cannot hold. Lift
    NO_DICTIONARY (c, ...) and AGGREGATION [agg(m), ...] out first:
    returns (no-dictionary names, aggregation list or None, the rest)."""
    no_dict, opts_s = _lift(opts_s, r"no_dictionary\s*\(([^)]*)\)")
    agg_exprs, opts_s = _lift(opts_s, r"aggregation\s*\[(.*?)\]")
    return _names(no_dict), agg_exprs, opts_s


def _dimension_sort_key(
    dims: list[str],
    no_dict: set[str],
    part_cols: list[str],
    types: dict[str, T.DataType],
) -> list[str]:
    """MDKey analogue: the dictionary dimensions form the sort prefix and
    the NO_DICTIONARY (high-cardinality) ones follow — the reference's
    own parser test pins the split (TestCarbonSqlParser.scala:59-84:
    dimCols=[col3,col4] with the excluded col2 tracked separately), and
    low-cardinality dims first keep long sorted runs for row-group
    pruning. A hive-partition column is constant within its directory,
    so it is left out. DECIMAL dims are left out too: pyarrow cannot
    extract parquet column statistics for fixed-length decimals, so a
    decimal sort column would fail stats collection at load — the column
    stays fully queryable, it just contributes no segment pruning
    (matches the reference, whose MDKey covers dictionary dimensions
    only)."""
    keep = [
        d
        for d in dims
        if d not in part_cols and not isinstance(types[d], T.DecimalType)
    ]
    return [d for d in keep if d not in no_dict] + [d for d in keep if d in no_dict]


def _parse_options(opts_s: str | None, strict: bool = False) -> dict[str, str]:
    """OPTIONS('k'='v', ...) and the legacy keyword spelling
    PARTITIONDATA(DELIMITER ',', QUOTECHAR '"', FILEHEADER 'a,b,...')
    (CarbonSqlParser.scala partitionOptions — bare keyword + quoted
    value) → {k_lower: v}. Values keep case and may contain commas
    (FILEHEADER), so items are split on commas outside quotes.
    ``strict`` rejects malformed items instead of dropping them (the
    LOAD statement forms, where a typo'd pair silently changing load
    behavior is worse than an error)."""
    if not opts_s:
        return {}
    out: dict[str, str] = {}
    for item in filter(None, (p.strip() for p in _split_cols(opts_s))):
        m = (
            re.fullmatch(r"'([^']+)'\s*=\s*'([^']*)'", item)
            or re.fullmatch(r"(\w+)\s*=\s*'([^']*)'", item)
            or re.fullmatch(r"(\w+)\s+'([^']*)'", item)
        )
        if m:
            out[m.group(1).lower()] = m.group(2)
        elif strict:
            raise ValueError(
                f"malformed option {item!r}: expected KEY 'value' "
                "(CarbonSqlParser partitionOptions) or 'key'='value' "
                "(loadOptions)"
            )
    return out


# The full option surface of the LOAD statement forms: the reference's
# partitionOptions/loadOptions keywords (CarbonSqlParser.scala:822-834)
# plus this rebuild's documented extensions. Anything else raises —
# accepted-but-ignored load options are silent data corruption.
_LOAD_OPTION_KEYS = frozenset(
    {
        # CarbonSqlParser.scala:823-827 partitionOptions keywords
        "delimiter",
        "quotechar",
        "fileheader",
        "escapechar",
        "multiline",
        "complex_delimiter_level_1",
        "complex_delimiter_level_2",
        # rebuild extensions (documented in _load_data)
        "format",
        "timestamp_format",
        "bad_records_action",
    }
)


# compressed members keep the documented uniform-header assumption:
# Spark decompresses transparently on read, so a raw readline here would
# see gzip bytes and spuriously mismatch
_COMPRESSED_SUFFIXES = (
    ".gz", ".bz2", ".zst", ".lz4", ".deflate", ".snappy", ".xz", ".br",
)


def _local_load_members(path: str) -> list[str] | None:
    """The local plain-file members of a LOAD DATA input, for the
    per-file header validation — or None for a non-local URI (hdfs://,
    s3a://, ...) where a raw readline is impossible and the documented
    uniform-header assumption applies.

    Non-local is decided by URI SCHEME, not os.path.exists: a local path
    containing a Spark-supported glob ('/data/part-*.csv') fails
    exists() but is still local — expand it with glob.glob so glob
    loads get validated too, instead of a misleading 'non-local path'
    warning."""
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) and not path.startswith(
        "file:"
    ):
        return None
    local = re.sub(r"^file:(//)?", "", path)
    candidates = (
        glob.glob(os.path.join(local, "*"))
        if os.path.isdir(local)
        else glob.glob(local)  # plain file -> [file]; glob -> matches
    )
    return sorted(
        f
        for f in candidates
        if os.path.isfile(f)
        and not os.path.basename(f).startswith((".", "_"))
        and not f.lower().endswith(_COMPRESSED_SUFFIXES)
    )


class CarbonSession:
    """sql() entry point over a CarbonStore."""

    def __init__(
        self,
        spark: SparkSession,
        store: CarbonStore,
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.store = store
        # CarbonProperties analogue (core/.../CarbonProperties.java): the
        # reference's tests set global properties (e.g.
        # carbon.timestamp.format) before DDL/LOAD; here they are
        # session-scoped. Recognized: carbon.timestamp.format — the
        # default CSV timestamp parse format when a LOAD carries no
        # TIMESTAMP_FORMAT option.
        self.properties: dict[str, str] = dict(properties or {})
        self._asof_views: dict[str, set[str]] = {}  # table -> live as-of views

    def _rows(self, rows: list[dict], schema: str) -> DataFrame:
        return self.spark.createDataFrame([Row(**r) for r in rows], schema) if rows else (
            self.spark.createDataFrame([], schema)
        )

    def sql(self, text: str) -> DataFrame:
        """Run one statement: the first ``_ROUTES`` entry whose pattern
        matches answers it, unless its handler declines with None; then
        the rollup route; then Spark SQL. The store's table names are
        listed once: each handler gets the entry's ``t`` group resolved
        case-insensitively (an unknown name keeps the user's spelling, so
        the store's own not-found error names it) and the
        ``{lower: name}`` map."""
        s = _squash(text.strip().rstrip(";"))
        names = {t.lower(): t for t in self.store.tables()}
        for pattern, handler in _ROUTES:
            m = pattern.fullmatch(s)
            if m is None:
                continue
            raw = m.groupdict().get("t")
            out = handler(self, m, raw and names.get(raw.lower(), raw), names)
            if out is not None:
                return out
        routed = self._try_rollup_route(s, names)
        return routed if routed is not None else self._passthrough(s, names)

    # -- statement handlers: (self, match, resolved table, names) -----------

    def _show_segments(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        segs = self.store.show_segments(t)
        if m["n"] is not None:
            # LIMIT n = the n most recent loads, newest first
            segs = sorted(segs, key=lambda e: -e["segment_id"])[: int(m["n"])]
        rows = [
            {
                "segment_id": e["segment_id"],
                "status": e["status"],
                "rows": e["rows"],
                "load_start": datetime.fromtimestamp(
                    e["load_start_ts"], tz=timezone.utc
                ).isoformat(),
            }
            for e in segs
        ]
        return self._rows(rows, "segment_id long, status string, rows long, load_start string")

    def _delete_segments(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        ids = [int(x) for x in m["ids"].replace(" ", "").split(",") if x]
        return self._rows([{"deleted": self.store.delete_segments(t, ids)}], "deleted long")

    def _delete_before(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        # the reference validates the field is a time dimension of the
        # cube before deleting whole loads by date
        # (CarbonSqlParser.scala:1110-1118); mirror that instead of
        # silently accepting a typo'd column
        field = m["col"]
        schema_fields = {f.name.lower() for f in self.store.schema(t).fields}
        if field.lower() not in schema_fields and field.lower() != "starttime":
            raise ValueError(
                f"DELETE FROM CUBE: {field} is not a column of {t} "
                "(or the pseudo-column STARTTIME)"
            )
        ts = datetime.fromisoformat(m["ts"]).replace(tzinfo=timezone.utc).timestamp()
        return self._rows([{"deleted": self.store.delete_segments_by_date(t, ts)}], "deleted long")

    def _clean_files(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        removed = self.store.clean_files(t)
        return self._rows([{"removed_segment": r} for r in removed], "removed_segment long")

    def _show_create_cube(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        # the LAST start symbol of the reference parser
        # (CarbonSqlParser.scala:175-177, showCreateCube:272-313): it
        # re-emits a CREATE CUBE definition synthesized from a
        # PRE-EXISTING Hive table definition — a legacy create-from-hive
        # migration path this engine designs out (README §SQL surface).
        # Reject loudly with the working alternatives instead of falling
        # through to a baffling Spark parse error.
        raise ValueError(
            "SHOW CREATE CUBE is not supported: the reference form "
            "synthesizes a cube definition from a pre-existing Hive "
            "table (legacy migration path, designed out). Use "
            f"DESCRIBE EXTENDED {t} for schema + properties "
            f"and SHOW SEGMENTS FOR TABLE {t} for loads"
        )

    def _drop(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        if m["ie"] and t.lower() not in names:
            return self._rows([], "dropped string")
        self.store.drop_table(t)
        # a view the passthrough registered would otherwise keep
        # answering for the table and fail on its deleted files
        self.spark.catalog.dropTempView(t)
        return self._rows([{"dropped": t}], "dropped string")

    def _drop_aggregate(self, m: re.Match, t: str | None, names: dict[str, str]) -> DataFrame:
        # auto-named aggregates (auto0, auto1, ...) can exist on several
        # facts, so an unqualified name that several facts carry is an
        # error. ON <t>, or a dotted qualifier naming a store table,
        # picks the fact; any other qualifier is the (single-namespace)
        # schema and is ignored.
        name = m["a"]
        fact = t or names.get((m["q"] or "").lower())
        facts = [
            f
            for f in names.values()
            if (fact is None or f == fact) and name in list_aggregate_tables(self.store, f)
        ]
        if len(facts) > 1:
            raise ValueError(
                f"aggregate table {name} exists on several cubes "
                f"({', '.join(sorted(facts))}): qualify as "
                f"<cube>.{name} to disambiguate"
            )
        if facts:
            drop_aggregate_table(self.store, facts[0], name)
            return self._rows([{"dropped": name}], "dropped string")
        if m["ie"]:
            return self._rows([], "dropped string")
        raise ValueError(f"aggregate table {name} not found on {fact or 'any cube'}")

    def _show_aggregates(self, m: re.Match, t: str | None, names: dict[str, str]) -> DataFrame:
        if t is not None:
            return self._rows(
                [{"aggregate_table": n} for n in list_aggregate_tables(self.store, t)],
                "aggregate_table string",
            )
        rows = [
            {"fact_table": fact, "aggregate_table": n}
            for fact in names.values()
            for n in list_aggregate_tables(self.store, fact)
        ]
        return self._rows(rows, "fact_table string, aggregate_table string")

    def _create_aggregate(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        if m["g"] is not None:
            name = m["items"].strip()
            if not re.fullmatch(r"\w+", name):
                raise ValueError(f"CREATE AGGREGATETABLE: cannot parse {name!r}")
            create_aggregate_table(self.store, t, name, _names(m["g"]), _measures(m["aggs"]))
        else:
            # the reference's own form lists group columns and agg(m)
            # items together and auto-names the table
            items = [i.strip() for i in _split_cols(m["items"])]
            for item in items:
                if not re.fullmatch(r"\w+|\w+\s*\(\s*\w+\s*\)", item):
                    raise ValueError(f"CREATE AGGREGATETABLE: cannot parse {item!r}")
            group_cols = [i for i in items if re.fullmatch(r"\w+", i)]
            name = self._auto_aggregate(t, group_cols, _measures(m["items"]))
        return self._rows([{"created": name}], "created string")

    def _auto_aggregate(
        self, fact: str, group_cols: list[str], measures: dict[str, list[str]]
    ) -> str:
        """Create the fact's aggregate table under the first free autoN
        name (the reference auto-names its aggregate tables)."""
        existing = set(list_aggregate_tables(self.store, fact))
        name = next(f"auto{i}" for i in itertools.count() if f"auto{i}" not in existing)
        create_aggregate_table(self.store, fact, name, group_cols, measures)
        return name

    def _show_cubes(self, m: re.Match, t: str | None, names: dict[str, str]) -> DataFrame:
        if not m["detail"]:
            return self._rows([{"cube_name": c} for c in names.values()], "cube_name string")
        rows = []
        for c in names.values():
            ok = [e for e in self.store.show_segments(c) if e["status"] == SEGMENT_SUCCESS]
            rows.append(
                {
                    "cube_name": c,
                    "valid_segments": len(ok),
                    "rows": sum(e["rows"] or 0 for e in ok),
                }
            )
        return self._rows(rows, "cube_name string, valid_segments long, rows long")

    # Row-level IUD over store tables (copy-on-write segment rewrite,
    # store.delete_rows/update_rows/merge_rows). A table outside the
    # store declines, so Spark answers for its own tables.

    def _delete_rows(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame | None:
        if t.lower() not in names:
            return None
        n = self.store.delete_rows(t, m["pred"])
        return self._rows([{"deleted_rows": n}], "deleted_rows long")

    def _update_rows(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame | None:
        if t.lower() not in names:
            return None
        # the WHERE split must be quote-aware: UPDATE t SET note = 'x
        # where y' carries the keyword inside a literal, which a regex
        # split would take for the clause
        rest = m["rest"]
        wi = _find_keyword(rest, "where")
        set_s = rest[:wi].strip() if wi >= 0 else rest
        pred = rest[wi + len("where") :].strip() if wi >= 0 else "true"
        assignments: dict[str, str] = {}
        for item in _split_cols(set_s):
            if "=" not in item:
                raise ValueError(f"UPDATE SET: cannot parse {item!r}")
            c, expr = item.split("=", 1)
            assignments[c.strip()] = expr.strip()
        n = self.store.update_rows(t, pred, assignments)
        return self._rows([{"updated_rows": n}], "updated_rows long")

    def _merge(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame | None:
        """MERGE INTO → store.merge_rows (upsert — beyond the reference
        era, like row-level IUD; the statement mirrors the modern SQL
        standard's MERGE in the shapes merge_rows supports). USING names
        a store table or a registered Spark view. ON is either a bare key
        list ``ON (k1, k2)`` or a same-column equality chain
        ``ON t.k = s.k AND ...``. UPDATE SET supports ``*`` (all non-key
        columns from the source) or ``c = s.c`` self-assignments;
        computed updates need the merge_rows API. WHEN NOT MATCHED THEN
        INSERT * appends unmatched source rows; omitting WHEN MATCHED
        gives the insert-only (idempotent backfill) merge. Column names
        resolve case-insensitively like the rest of the dialect."""
        if t.lower() not in names:
            return None
        source = m["src"]
        if source.lower() in names:
            src = self.store.table(names[source.lower()])
        else:
            try:
                src = self.spark.table(source)
            except Exception as exc:
                raise ValueError(
                    f"MERGE USING {source}: not a store table or a "
                    "registered Spark view"
                ) from exc
        by_lower = {f.name.lower(): f.name for f in self.store.schema(t).fields}

        def resolve(name: str, what: str) -> str:
            actual = by_lower.get(name.lower())
            if actual is None:
                raise ValueError(f"MERGE {what}: {name} is not a column of {t}")
            return actual

        on_s = m["on"].strip()
        keys: list[str] = []
        lm = re.fullmatch(r"\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)", on_s)
        if lm:
            keys = [resolve(c.strip(), "ON") for c in lm.group(1).split(",")]
        else:
            for part in re.split(r"\s+and\s+", on_s, flags=_I):
                pm = re.fullmatch(
                    r"\(?\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*\)?",
                    part.strip(),
                )
                if not pm or pm.group(1).lower() != pm.group(2).lower():
                    raise ValueError(
                        f"MERGE ON: unsupported condition {part.strip()!r} — "
                        "use a key list ON (k1, k2) or same-column "
                        "equalities t.k = s.k [AND ...]"
                    )
                keys.append(resolve(pm.group(1), "ON"))
        if m["matched"] is None and m["insert"] is None:
            raise ValueError(
                "MERGE needs WHEN MATCHED THEN UPDATE SET and/or "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        update_cols: list[str] | None
        if m["matched"] is None:
            update_cols = []  # insert-only merge
        else:
            set_s = re.sub(
                r"^\s*when matched then update set\s*", "", m["matched"], flags=_I
            ).strip()
            if set_s == "*":
                update_cols = None
            else:
                update_cols = []
                for item in _split_cols(set_s):
                    am = re.fullmatch(
                        r"\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*", item
                    )
                    if not am or am.group(1).lower() != am.group(2).lower():
                        raise ValueError(
                            "MERGE UPDATE SET: unsupported assignment "
                            f"{item.strip()!r} — only c = s.c self-"
                            "assignments or SET *; computed updates need "
                            "the store.merge_rows API"
                        )
                    update_cols.append(resolve(am.group(1), "UPDATE SET"))
        res = self.store.merge_rows(
            t, src, keys, update_cols=update_cols, insert=m["insert"] is not None
        )
        return self._rows([res], "updated long, inserted long")

    def _load(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        # The flat-table model folds dimensions into the fact (SURVEY.md
        # §1), so the legacy star-schema DIMENSION FROM file mapping
        # (loadData, CarbonSqlParser.scala:779-793) is rejected loudly
        # rather than half-loaded.
        if m["dim"]:
            raise ValueError(
                "LOAD DATA ... DIMENSION FROM is not supported: the "
                "flat-table model folds dimensions into the fact table "
                "(load them as columns of the fact CSV instead)"
            )
        opts = _parse_options(m["opts"], strict=True)
        if m["delim"]:
            opts.setdefault("delimiter", m["delim"])
        # OVERWRITE atomically invalidates all prior segments in the
        # same manifest commit (loadDataNew,
        # CarbonSqlParser.scala:795-805 isOverwrite)
        seg_id = self._load_data(
            m["path"], t, opts, mode="overwrite" if m["ow"] else "append"
        )
        return self._rows([{"segment_id": seg_id}], "segment_id long")

    def _add_columns(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        fields = _fields(m["cols"])
        self.store.alter_add_columns(t, fields, defaults=_defaults(m["defs"] or ""))
        return self._rows([{"added": f.name} for f in fields], "added string")

    def _drop_columns(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        cols = _names(m["cols"])
        self.store.alter_drop_columns(t, cols)
        return self._rows([{"dropped": c} for c in cols], "dropped string")

    def _compact(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        new_id = self.store.compact(t)
        return self._rows(
            [{"new_segment": new_id if new_id is not None else -1}], "new_segment long"
        )

    def _describe(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        # DESC is a full alias; plain DESCRIBE lists COLUMNS (the
        # reference routes it to Spark's DescribeCommand,
        # CarbonSqlParser.scala:1006-1021 — a Hive-style (col_name,
        # data_type, comment) listing, dims/measures annotated);
        # EXTENDED/FORMATTED appends the detailed-table-information
        # section (DescribeFormattedCommand) as (key, value) rows.
        d = self.store.describe(t)
        # a NO_DICTIONARY / DICTIONARY_EXCLUDE column is still a
        # DIMENSION — the reference tracks it as a no-dictionary dim,
        # not a measure (TestCarbonSqlParser.scala:59-84 pins the
        # split: dimCols vs noDictionary, both dimension-side)
        props_d = d.get("properties", {}) or {}
        dims = set(props_d.get("dictionary_include", "").split(","))
        dims |= {
            c for c in props_d.get("dictionary_exclude", "").split(",") if c
        }
        rows = [
            {
                "col_name": f.name,
                "data_type": f.dataType.simpleString(),
                "comment": "dimension" if f.name in dims else "measure"
                if dims != {""} else "",
            }
            for f in self.store.schema(t).fields
        ]
        if m["detail"]:
            rows.append(
                {"col_name": "# detailed table information", "data_type": "", "comment": ""}
            )
            rows += [
                {"col_name": k, "data_type": str(v), "comment": ""}
                for k, v in d.items()
            ]
        return self._rows(rows, "col_name string, data_type string, comment string")

    def _created(self, t: str, created: bool) -> DataFrame:
        """A CREATE's result: the new table, or no row when IF NOT EXISTS
        found it already there."""
        return self._rows([{"created": t}] if created else [], "created string")

    def _create_cube(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        """CREATE CUBE — the reference's primary DDL front door
        (CarbonSqlParser.scala:703-729; model cubeSchema.scala:107-126):
        an explicit dimension/measure split. Dimensions become the sort
        columns (MDKey clustering analogue) and are recorded in
        dictionary_include; integer MEASURES surface as double (the
        reference's `case "int" => "double"` coercion,
        CarbonDatasourceRelation.scala:194-208) via the existing
        int_measures_as_double property hook."""
        opts_s = m["opts"] or ""
        if re.search(r"\bcolumn_groups\b", opts_s, _I):
            # The reference carries COLUMN_GROUPS only as a TBLPROPERTIES
            # key of the Hive-syntax CREATE TABLE
            # (CarbonSqlParser.scala:461-490 reads it from
            # tableProperties; the CREATE CUBE options parser, :283-311,
            # accepts only AGGREGATION and PARTITIONER) — reject loudly
            # instead of failing as unrecognized syntax.
            raise ValueError(
                "COLUMN_GROUPS is not a CREATE CUBE option: use the "
                "Hive-syntax form CREATE TABLE ... STORED BY "
                "'org.apache.carbondata.format' TBLPROPERTIES "
                "('COLUMN_GROUPS'='(c1,c2),...'), where it is accepted "
                "and recorded. The row-major physical layout itself is "
                "subsumed by Parquet's columnar row-group encoding, so "
                "query results are identical with or without it."
            )
        dims = _fields(m["dims"])
        dim_names = [f.name for f in dims]
        props_extra: dict[str, str] = {}
        # PARTITIONER [CLASS = '...', COLUMNS = (...), PARTITION_COUNT = n]
        # (partitioner:983): hive partitioning on the columns IS the
        # hash-partitioner analogue here; class and count are recorded
        # for round-tripping
        part, opts_s = _lift(opts_s, r"partitioner\s*\[(.*?)\]")
        part_cols = None
        if part is not None:
            cm = re.search(r"columns\s*=\s*\(([^)]*)\)", part, _I)
            if cm:
                part_cols = _names(cm.group(1))
                unknown = [c for c in part_cols if c not in dim_names]
                if unknown:
                    raise ValueError(
                        f"PARTITIONER columns must be dimensions: {unknown}"
                    )
            km = re.search(r"class\s*=\s*'([^']*)'", part, _I)
            if km:
                props_extra["partitioner_class"] = km.group(1)
            nm = re.search(r"partition_count\s*=\s*(\d+)", part, _I)
            if nm:
                props_extra["partition_count"] = nm.group(1)
        no_dict, agg_exprs, opts_s = _lift_dimension_options(opts_s)
        if no_dict:
            props_extra["dictionary_exclude"] = ",".join(no_dict)
        props = _parse_options(opts_s.strip().strip(",") or None)
        props.update(props_extra)
        excluded = set(props.get("dictionary_exclude", "").split(","))
        props.setdefault(
            "dictionary_include",
            ",".join(c for c in dim_names if c not in excluded),
        )
        props.setdefault("int_measures_as_double", "true")
        created = self.store.create_table(
            t,
            T.StructType(dims + _fields(m["meas"])),
            sort_columns=_dimension_sort_key(
                dim_names, excluded, part_cols or [], {f.name: f.dataType for f in dims}
            ),
            partition_columns=part_cols,
            properties=props,
            if_not_exists=bool(m["ine"]),
        )
        if created and agg_exprs:
            # AGGREGATION [sum(x), ...] pre-declares the cube's rollup: an
            # aggregate table over all dimensions, refreshed per load like
            # any other (plans/agg_table)
            self._auto_aggregate(t, dim_names, _measures(agg_exprs))
        return self._created(t, created)

    def _create_table(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame:
        if m["handler"] is not None:
            return self._create_table_hive(m, t)
        fields = _fields(m["cols"])
        sort_cols = _names(m["sort"]) if m["sort"] else None
        if sort_cols:
            # same decimal zone-map limitation as the CREATE CUBE path
            # (pyarrow cannot read parquet decimal statistics)
            types = {f.name.lower(): f.dataType for f in fields}
            dropped = [
                c
                for c in sort_cols
                if isinstance(types.get(c.lower()), T.DecimalType)
            ]
            if dropped:
                import warnings

                warnings.warn(
                    f"SORTED BY: decimal column(s) {dropped} cannot "
                    "carry zone-map statistics and were dropped from "
                    "the sort key",
                    stacklevel=3,
                )
            # an explicitly-empty remainder stays [] (user asked for
            # THIS clustering; do not silently fall back to the
            # default dims-sorted set by passing None)
            sort_cols = [c for c in sort_cols if c not in dropped]
        created = self.store.create_table(
            t,
            T.StructType(fields),
            sort_columns=sort_cols,
            partition_columns=_names(m["parts"]) or None,
            if_not_exists=bool(m["ine"]),
        )
        return self._created(t, created)

    # -- LOAD DATA ---------------------------------------------------------

    def _load_data(
        self, path: str, table: str, opts: dict[str, str], mode: str = "append"
    ) -> int:
        """LOAD DATA INPATH → one segment. Options (reference surface):
        DELIMITER, QUOTECHAR, ESCAPECHAR, FILEHEADER, MULTILINE,
        COMPLEX_DELIMITER_LEVEL_1/2, BAD_RECORDS_ACTION
        (fail|drop|capture), FORMAT (csv|parquet|json|orc),
        TIMESTAMP_FORMAT.

        Complex-typed columns (array/struct in the table schema) arrive in
        the CSV as two-level delimited strings ('$' between elements, ':'
        between struct fields — CarbonSqlParser.scala:95-96,
        complexdata.csv): the CSV reader cannot parse nested types, so
        those columns are read as strings and rebuilt with
        ``with_complex_columns`` (codegen split/cast, no Python)."""
        unknown = set(opts) - _LOAD_OPTION_KEYS
        if unknown:
            raise ValueError(
                f"unknown LOAD option(s) {sorted(unknown)}: supported are "
                f"{sorted(_LOAD_OPTION_KEYS)} (CarbonSqlParser.scala:822-834 "
                "keywords + documented extensions) — refusing to silently "
                "ignore a load-shaping option"
            )
        fmt = opts.get("format", "csv").lower()
        staging = None
        if fmt == "parquet":
            df = self.spark.read.parquet(path)
        elif fmt == "json":
            from carbondata_spark.sources.formats import read_json

            df = read_json(self.spark, path, schema=self.store.schema(table))
        elif fmt == "orc":
            from carbondata_spark.sources.formats import read_orc

            df = read_orc(self.spark, path)
        else:
            from carbondata_spark.sources.csv import (
                normalize_escapechar,
                read_csv,
                split_bad_records,
                unescape_delimiter,
                with_complex_columns,
            )

            raw_delimiter = opts.get("delimiter", ",")
            delimiter = unescape_delimiter(raw_delimiter)
            # the reference rejects a field delimiter colliding with
            # either complex-type delimiter outright, comparing the RAW
            # option spellings (cubeSchema.scala:1881-1885) — DELIMITER
            # '\t' vs COMPLEX_DELIMITER_LEVEL_1 '\t' errors there even
            # though only the field delimiter is later unescaped. Match
            # that, and ALSO reject when the unescaped delimiter equals a
            # complex delimiter (differing spellings of the same byte
            # would corrupt the complex-column split downstream).
            cd1 = opts.get("complex_delimiter_level_1", "$")
            cd2 = opts.get("complex_delimiter_level_2", ":")
            if (
                raw_delimiter.lower() in (cd1.lower(), cd2.lower())
                or delimiter.lower() in (cd1.lower(), cd2.lower())
                or cd1.lower() == cd2.lower()
            ):
                raise ValueError(
                    "Field Delimiter & Complex types delimiter are same"
                )

            fileheader = None
            # FILEHEADER '' (the reference's FilterProcessor_FT spelling)
            # means "the file carries its own header", same as absent
            if opts.get("fileheader", "").strip():
                fileheader = [c.strip() for c in opts["fileheader"].split(",")]
            file_has_header = fileheader is None
            if file_has_header:
                # The file's own header maps to cube columns BY NAME, and
                # may carry more columns than the cube or a different
                # order (the reference's typed suites load the 14-column
                # data.csv into 3-column cubes, e.g. sortexpr/
                # TimestampDataTypeTestCase.scala). Peek the first line
                # and reuse the FILEHEADER by-name machinery below.
                import csv as _csv

                def _parse_header(line: str) -> list[str]:
                    return [
                        c.strip()
                        for c in next(
                            _csv.reader(
                                [line],
                                delimiter=delimiter,
                                quotechar=opts.get("quotechar", '"'),
                            )
                        )
                    ]

                first = self.spark.read.text(path).first()
                if first is None:
                    raise ValueError(f"LOAD DATA: empty input {path!r}")
                fileheader = _parse_header(first[0])
                # header=True below skips the first line of EVERY file,
                # but the peek above read ONE arbitrary file — a
                # directory mixing header orders would silently
                # mis-project all the others. Validate each local file's
                # first line against the peeked header (bounded: this is
                # a management-path load, and the check is a header-line
                # read per file, not a data scan); non-local URIs keep
                # the documented uniform-header assumption.
                members = _local_load_members(path)
                if members is None:
                    # non-local URI (hdfs://, s3a://, ...): the per-file
                    # validation below needs a local readline; keep the
                    # documented uniform-header assumption but say so —
                    # a directory mixing header orders would silently
                    # mis-project every non-peeked file.
                    import warnings

                    warnings.warn(
                        f"LOAD DATA from non-local path {path!r} with a "
                        "file-carried header: per-file header validation "
                        "is skipped; all files are assumed to share the "
                        "peeked header (pass FILEHEADER to be explicit)",
                        stacklevel=2,
                    )
                elif not members:
                    # LOCAL path but zero plain-file members: a mistyped
                    # path, a Spark-only glob Python's glob can't expand
                    # (e.g. '{a,b}.csv'), or a glob matching only
                    # directories — the per-file validation has nothing
                    # to check, which must be said, not silently skipped
                    # (neither an error nor the non-local warning would
                    # otherwise tell the caller).
                    import warnings

                    warnings.warn(
                        f"LOAD DATA: local path {path!r} matched no plain "
                        "files for per-file header validation (mistyped "
                        "path, unsupported glob syntax, or directory-only "
                        "matches?); validation skipped — all files are "
                        "assumed to share the peeked header",
                        stacklevel=2,
                    )
                else:
                    # check every member (the peeked file compares equal
                    # to itself); cap keeps this a bounded check
                    for m in members[:64]:
                        with open(m, errors="replace") as fh:
                            line = fh.readline().rstrip("\r\n")
                        # ORDER matters: the projection below binds data
                        # lines positionally to the peeked-header schema
                        if line and _parse_header(line) != fileheader:
                            raise ValueError(
                                f"LOAD DATA: file {m!r} carries a header "
                                f"different from the peeked one "
                                f"({fileheader[:6]}...); multi-file "
                                "header-carrying loads must share one "
                                "header (or pass FILEHEADER explicitly)"
                            )
            schema = self.store.schema(table)
            if file_has_header:
                # A peeked header that matches NO cube column means the
                # file is headerless (its first DATA line was consumed as
                # a header) or belongs to a different table — the by-name
                # projection below would then emit every cube column as
                # NULL. Refuse loudly instead of loading a table of NULL
                # rows; the caller's options are FILEHEADER (headerless
                # files) or a file whose header names the cube's columns.
                cube_cols = {f.name.lower() for f in schema.fields}
                if not any(c.lower() in cube_cols for c in fileheader):
                    raise ValueError(
                        f"LOAD DATA: no column of the file header "
                        f"{fileheader[:6]}... matches table {table!r} "
                        f"({sorted(cube_cols)[:6]}...): pass FILEHEADER "
                        "for a headerless file, or check the input"
                    )
                # a PARTIALLY matching header (e.g. one renamed column)
                # loads NULL into every unmatched cube column — quiet
                # data loss if unintended; say which columns
                header_lc = {c.lower() for c in fileheader}
                absent = [
                    f.name for f in schema.fields if f.name.lower() not in header_lc
                ]
                if absent:
                    import warnings

                    warnings.warn(
                        f"LOAD DATA into {table!r}: cube column(s) "
                        f"{absent} are absent from the file header and "
                        "will load as NULL",
                        stacklevel=2,
                    )
            complex_cols = {
                f.name: f.dataType
                for f in schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.StructType))
            }
            if complex_cols:
                schema = T.StructType(
                    [
                        T.StructField(f.name, T.StringType() if f.name in complex_cols else f.dataType)
                        for f in schema.fields
                    ]
                )
            # FILEHEADER names the CSV's physical column ORDER, which the
            # reference lets differ from the table declaration order
            # (AllDataTypesTestCaseAggregate.scala:50 loads measures from
            # mid-file positions). Read with a schema in FILEHEADER order
            # (types resolved by case-insensitive name), then project back
            # to the table order; header-only columns are dropped, table
            # columns absent from the header become NULL.
            read_schema = schema
            if fileheader is not None:
                by_name = {f.name.lower(): f for f in schema.fields}
                read_schema = T.StructType(
                    [
                        T.StructField(
                            by_name[c.lower()].name if c.lower() in by_name else c,
                            by_name[c.lower()].dataType
                            if c.lower() in by_name
                            else T.StringType(),
                        )
                        for c in fileheader
                    ]
                )
            ts_format = opts.get("timestamp_format")
            if ts_format is None and "carbon.timestamp.format" in self.properties:
                # SimpleDateFormat (the reference's parser,
                # CarbonProperties default yyyy-MM-dd HH:mm:ss) leniently
                # accepts unpadded fields; java.time needs single-letter
                # patterns for that, so relax padded fields to match.
                ts_format = re.sub(
                    r"(MM|dd|HH|mm|ss)",
                    lambda m: m.group(1)[0],
                    self.properties["carbon.timestamp.format"],
                )
            # Bad TIMESTAMP values null the CELL, not the row: the
            # reference's direct-dictionary generator returns the null
            # surrogate on ParseException and keeps the row
            # (TimeStampDirectDictionaryGenerator.java:115-121), unlike a
            # bad MEASURE which rejects the whole row to the bad-records
            # log (CarbonCSVBasedSeqGenStep.java:1193). Read timestamp
            # columns as strings, then try_to_timestamp (null on
            # failure) — measures keep their types so a bad numeric
            # still makes the row malformed.
            ts_cols = [
                f.name
                for f in read_schema.fields
                if isinstance(f.dataType, T.TimestampType)
            ]
            if ts_cols:
                read_schema = T.StructType(
                    [
                        T.StructField(f.name, T.StringType())
                        if f.name in ts_cols
                        else f
                        for f in read_schema.fields
                    ]
                )
            df = read_csv(
                self.spark,
                path,
                schema=read_schema,
                delimiter=delimiter,
                quotechar=opts.get("quotechar", '"'),
                # reference default: NO escaping (escapechar "", i.e.
                # ignoreEscape — a backslash in data stays literal)
                escapechar=normalize_escapechar(opts.get("escapechar")),
                fileheader=fileheader,
                multiline=opts.get("multiline", "false").lower() == "true",
                timestamp_format=ts_format,
                bad_records_action=opts.get("bad_records_action", "drop"),
                header_in_file=file_has_header,
            )
            # capture mode stages the parsed input; the segment holds its
            # own copy once store.load returns, so the staging tree goes
            # then (or when the object is dropped, if anything before the
            # load raises)
            staging = tempfile.TemporaryDirectory(prefix="carbondata_badrecords_")
            df, _bad = split_bad_records(df, staging.name)
            for c in ts_cols:
                # coalesce mirrors Spark's own CSV fallback (pattern
                # first, then the general timestamp cast), so an ISO
                # value still parses when a format is configured
                df = df.withColumn(
                    c,
                    F.coalesce(
                        F.try_to_timestamp(F.col(c), F.lit(ts_format)),
                        F.try_to_timestamp(F.col(c)),
                    )
                    if ts_format is not None
                    else F.try_to_timestamp(F.col(c)),
                )
            if fileheader is not None:
                have = {f.name.lower() for f in read_schema.fields}
                df = df.select(
                    *[
                        F.col(f.name)
                        if f.name.lower() in have
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in schema.fields
                    ]
                )
            if complex_cols:
                df = with_complex_columns(
                    df,
                    complex_cols,
                    delim1=opts.get("complex_delimiter_level_1", "$"),
                    delim2=opts.get("complex_delimiter_level_2", ":"),
                )
        try:
            return self.store.load(table, df, mode=mode)
        finally:
            if staging is not None:
                staging.cleanup()

    # -- Hive-syntax CREATE TABLE ... STORED BY ------------------------------

    def _create_table_hive(self, m: re.Match, t: str) -> DataFrame:
        """CREATE TABLE ... STORED BY 'org.apache.carbondata.format'
        [TBLPROPERTIES (...)] — the reference's Hive-compatible DDL
        (CarbonSqlParser.scala:316-418), the form migrating users
        actually have in scripts (run verbatim by
        ColumnGroupDataTypesTestCase.scala:34). Dimension/measure split
        per the reference rule (extractDimColsAndNoDictionaryFields /
        extractMsrColsFromFields, :532-630): string/array/struct columns
        are dimensions (DICTIONARY_EXCLUDE'd ones become no-dictionary
        dimensions), DICTIONARY_INCLUDE promotes numeric columns to
        dimensions, everything else is a measure.

        TBLPROPERTIES keys (quoted, case-insensitive):

        - DICTIONARY_INCLUDE / DICTIONARY_EXCLUDE (:541-546, :607-610) →
          the existing dictionary property plumbing; include promotes
          numeric columns to dimensions, exclude makes string dimensions
          no-dictionary.
        - COLUMN_GROUPS (:461-490) — "(c1,c2),(c3,c4)" row-major groups.
          ACCEPTED AND RECORDED (validated: members must be existing
          dimensions, no member in two groups) but physically designed
          out: Parquet has no row-major chunk, and its columnar row-group
          encoding subsumes the locality the feature bought on the
          reference's custom format. Query results are identical — the
          reference's own ColumnGroupDataTypesTestCase asserts colgrp
          matches the ungrouped table — so recording the intent (visible
          in DESCRIBE FORMATTED) is full functional parity.
        - PARTITIONCLASS / PARTITIONCOUNT (:500-510) → recorded as
          partitioner_class / partition_count, same as the CREATE CUBE
          PARTITIONER clause.

        Hive PARTITIONED BY columns are EXTRA typed columns
        (TOK_TABLEPARTCOLS, :380-390); they join the schema and become
        hive partition directories — the partitioner analogue.
        """
        handler = m["handler"]
        if handler.strip().lower() != "org.apache.carbondata.format":
            # the reference sys.errors on any other storage handler
            # (CarbonSqlParser.scala:404-407 "Not a carbon format request")
            raise ValueError(
                f"Not a carbon format request: STORED BY {handler!r} — "
                "only 'org.apache.carbondata.format' routes through the "
                "carbon DDL"
            )
        part_fields = _fields(m["pcols"])
        fields = _fields(m["cols"]) + part_fields
        part_cols = [f.name for f in part_fields]

        # quote-aware split + per-piece validation: a malformed pair
        # (unquoted key, stray text, mismatched quote styles) must reach
        # the unknown-keys guard as an ERROR, not be silently dropped —
        # TBLPROPERTIES (COLUMN_GROUPS='(a,b)') with an unquoted key
        # would otherwise create the table with the property ignored
        tbl_props: dict[str, str] = {}
        for piece in _split_cols(m["props"] or ""):
            if not piece.strip():
                continue
            pm = re.fullmatch(
                r"\s*'([^']+)'\s*=\s*'([^']*)'\s*", piece
            ) or re.fullmatch(r'\s*"([^"]+)"\s*=\s*"([^"]*)"\s*', piece)
            if not pm:
                raise ValueError(
                    f"malformed TBLPROPERTIES entry {piece.strip()!r}: "
                    "expected 'key'='value' (both sides quoted, matching "
                    "quote style)"
                )
            tbl_props[pm.group(1).lower()] = pm.group(2)
        known = {
            "column_groups",
            "dictionary_include",
            "dictionary_exclude",
            "partitionclass",
            "partitioncount",
        }
        unknown = sorted(set(tbl_props) - known)
        if unknown:
            raise ValueError(
                f"unsupported TBLPROPERTIES {unknown}: the reference reads "
                f"{sorted(known)} (CarbonSqlParser.scala:433-510)"
            )

        by_name = {f.name.lower(): f for f in fields}
        dict_include = _names(tbl_props.get("dictionary_include"))
        dict_exclude = _names(tbl_props.get("dictionary_exclude"))
        for c in dict_include + dict_exclude:
            if c.lower() not in by_name:
                raise ValueError(
                    f"DICTIONARY_INCLUDE/EXCLUDE column {c} is not a "
                    f"column of {t}"
                )

        def _stringish(f: T.StructField) -> bool:
            return isinstance(
                f.dataType, (T.StringType, T.ArrayType, T.StructType)
            )

        # the reference applies DICTIONARY_EXCLUDE only to string-typed
        # columns (extractDimColsAndNoDictionaryFields walks string/
        # array/struct fields only, :552-575); an exclude naming a
        # numeric column is ignored there — drop it here too so it never
        # mis-annotates a measure as a no-dictionary dimension
        dict_exclude = [
            c for c in dict_exclude if _stringish(by_name[c.lower()])
        ]

        no_dict = {by_name[c.lower()].name for c in dict_exclude}
        incl = {c.lower() for c in dict_include}
        dims = [
            f.name
            for f in fields
            if _stringish(f) or f.name.lower() in incl
        ]

        props: dict[str, str] = {
            "dictionary_include": ",".join(d for d in dims if d not in no_dict),
            # reference quirk preserved for drop-in parity: integer
            # MEASURES surface as double (CarbonDatasourceRelation.scala:
            # 194-208) on every carbon DDL path, Hive-syntax included
            "int_measures_as_double": "true",
        }
        if dict_exclude:
            props["dictionary_exclude"] = ",".join(dict_exclude)
        if "partitionclass" in tbl_props:
            props["partitioner_class"] = tbl_props["partitionclass"]
        if "partitioncount" in tbl_props:
            props["partition_count"] = tbl_props["partitioncount"]

        if "column_groups" in tbl_props:
            groups = re.findall(r"\(([^)]+)\)", tbl_props["column_groups"])
            if not groups:
                raise ValueError(
                    "COLUMN_GROUPS must be '(c1,c2),(c3,c4)'-shaped "
                    f"(got {tbl_props['column_groups']!r})"
                )
            dims_l = {d.lower() for d in dims}
            seen: set[str] = set()
            for g in groups:
                for member in (x.strip() for x in g.split(",")):
                    if member.lower() not in by_name:
                        raise ValueError(
                            f"COLUMN_GROUPS member {member} is not a "
                            f"column of {t}"
                        )
                    if member.lower() not in dims_l:
                        raise ValueError(
                            f"COLUMN_GROUPS member {member} is a measure: "
                            "row groups apply to dimensions only"
                        )
                    if member.lower() in seen:
                        raise ValueError(
                            f"COLUMN_GROUPS member {member} appears in "
                            "more than one group"
                        )
                    seen.add(member.lower())
            props["column_groups"] = ",".join(
                "(" + ",".join(x.strip() for x in g.split(",")) + ")"
                for g in groups
            )

        created = self.store.create_table(
            t,
            T.StructType(fields),
            sort_columns=_dimension_sort_key(
                dims, no_dict, part_cols, {f.name: f.dataType for f in fields}
            ),
            partition_columns=part_cols or None,
            properties=props,
            if_not_exists=bool(m["ine"]),
        )
        return self._created(t, created)

    # -- ALTER CUBE ----------------------------------------------------------

    def _alter_cube(self, m: re.Match, t: str, names: dict[str, str]) -> DataFrame | None:
        """ALTER CUBE (CarbonSqlParser.scala:731-776; clause grammar
        :226-250): DROP drops columns from reads of every segment; ADD
        DIMENSIONS/MEASURES appends columns visible over old segments
        with OPTIONS(DEFAULTS[...]) values (the reference's restructure
        default-fill, RestructureUtil); added dimensions join
        dictionary_include so DESCRIBE keeps annotating them; added
        integer measures follow the table's int→double parity quirk.
        OPTIONS clauses: DEFAULTS [col=val, ...] must name added columns;
        NO_DICTIONARY(...) must name added string dimensions — accepted
        and validated, with no physical effect to record: the global
        dictionary is designed out, Parquet dictionary-encodes per column
        chunk automatically; AGGREGATION [agg(col), ...] declares the
        next auto-named rollup over the cube's dimensions, same as
        CREATE AGGREGATETABLE. WITH dimension relations are star-schema
        — rejected loudly, same treatment as LOAD DATA ... DIMENSION
        FROM. A statement with no clause is not this one: it declines."""
        if not (m["drop"] or m["add"] or m["opts"]):
            return None
        if m["with"]:
            raise ValueError(
                "ALTER CUBE ... WITH dimension relations is not supported: "
                "the flat-table model folds dimensions into the fact table "
                "(add them as plain columns instead)"
            )
        if m["add"] and not (m["dims"] or m["meas"]):
            # mirror the reference's loud empty-ADD error (:745-747)
            raise ValueError(
                "empty ADD definition found. Please provide the "
                "dimensions/measures to be added."
            )

        no_dict, agg_exprs, opts_s = _lift_dimension_options(m["opts"] or "")
        fills, opts_s = _lift(opts_s, r"defaults\s*\[(.*?)\]")
        defaults = _defaults(fills or "")
        if opts_s.strip(" ,"):
            raise ValueError(
                f"ALTER CUBE OPTIONS: unrecognized {opts_s.strip(' ,')!r} "
                "(expected NO_DICTIONARY(...), AGGREGATION[...], "
                "DEFAULTS [col=val, ...])"
            )

        actions: list[dict[str, str]] = []
        if m["drop"]:
            cols = _names(m["drop"])
            self.store.alter_drop_columns(t, cols)
            actions += [{"action": "dropped", "column": c} for c in cols]

        add_dims = _fields(m["dims"])
        add_meas = _fields(m["meas"])
        if add_meas:
            props = self.store.describe(t).get("properties", {}) or {}
            if props.get("int_measures_as_double", "false").lower() == "true":
                add_meas = [
                    T.StructField(f.name, T.DoubleType())
                    if isinstance(f.dataType, (T.IntegerType, T.LongType, T.ShortType))
                    else f
                    for f in add_meas
                ]
        if add_dims or add_meas:
            added = {f.name for f in add_dims + add_meas}
            unknown = sorted(set(defaults) - added)
            if unknown:
                raise ValueError(
                    f"DEFAULTS for columns not being added: {unknown}"
                )
            # case-insensitive like every other identifier in this
            # dialect (NO_DICTIONARY(Channel) must match ADD DIMENSIONS
            # (channel string)), and only string/complex dimensions may
            # skip the dictionary — the same rule the CREATE CUBE path
            # states (a numeric dimension has no dictionary to skip)
            dims_by_lower = {f.name.lower(): f for f in add_dims}
            bad_nd = sorted(c for c in no_dict if c.lower() not in dims_by_lower)
            if bad_nd:
                raise ValueError(
                    f"NO_DICTIONARY columns must be added dimensions: {bad_nd}"
                )
            bad_type = sorted(
                c
                for c in no_dict
                if not isinstance(
                    dims_by_lower[c.lower()].dataType,
                    (T.StringType, T.ArrayType, T.StructType),
                )
            )
            if bad_type:
                raise ValueError(
                    "NO_DICTIONARY applies only to string/complex "
                    f"dimensions: {bad_type}"
                )
            self.store.alter_add_columns(t, add_dims + add_meas, defaults=defaults)
            if add_dims:
                # keep DESCRIBE's dimension annotation + future sort
                # behavior consistent: added dims join dictionary_include
                from carbondata_spark.lock import file_lock

                excl = {c.lower() for c in no_dict}
                with file_lock(self.store._schema_path(t)):
                    meta = self.store._read_schema(t)
                    tprops = meta.setdefault("properties", {})
                    cur = _names(tprops.get("dictionary_include"))
                    tprops["dictionary_include"] = ",".join(
                        cur
                        + [
                            f.name
                            for f in add_dims
                            if f.name not in cur and f.name.lower() not in excl
                        ]
                    )
                    if no_dict:
                        cur_ex = _names(tprops.get("dictionary_exclude"))
                        tprops["dictionary_exclude"] = ",".join(
                            cur_ex + [c for c in no_dict if c not in cur_ex]
                        )
                    self.store._write_schema(t, meta)
            actions += [
                {"action": "added", "column": f.name} for f in add_dims + add_meas
            ]
        elif defaults or no_dict:
            raise ValueError(
                "DEFAULTS/NO_DICTIONARY given without an ADD definition"
            )

        if agg_exprs:
            props = self.store.describe(t).get("properties", {}) or {}
            dims = _names(props.get("dictionary_include"))
            if not dims:
                raise ValueError(
                    "ALTER CUBE AGGREGATION: cube has no recorded "
                    "dimensions to group the rollup by"
                )
            name = self._auto_aggregate(t, dims, _measures(agg_exprs))
            actions.append({"action": "aggregation", "column": name})

        return self._rows(actions, "action string, column string")

    # -- rollup routing and the passthrough ----------------------------------

    def _try_rollup_route(self, s: str, names: dict[str, str]) -> DataFrame | None:
        """Answer ``SELECT <dims|aggs> FROM <fact> [WHERE <dim preds>]
        GROUP BY <dims>`` from a matching aggregate table
        (plans/agg_table.rewrite_aggregate algebra). Returns None when the
        statement is not that shape, the table has no rollups, or an
        aggregate is not derivable — the caller then falls through to the
        normal Spark SQL passthrough, so routing is always
        semantics-preserving. The fact must be spelled exactly as stored:
        a routed result names unaliased aggregates ``<fn>_<col>``, not
        Spark's ``<fn>(<col>)``, so a case-mismatched spelling keeps
        Spark's answer and its column names.

        WHERE routing rule: every column the predicate references must be
        a dimension of the chosen rollup (filter cols join the required
        dim set for ``choose_rollup``); the summary is filtered BEFORE
        combining partials, which is sound because a predicate on group
        columns selects whole groups — it never splits a partial. A
        predicate touching a measure (or anything not a fact column)
        disqualifies routing."""
        m = re.fullmatch(
            r"select (.+?) from (\w+)(?: where (.+))? group by ([\w\s,]+)", s, _I | re.S
        )
        if not m:
            return None
        fact, where_s = m.group(2), m.group(3)
        if names.get(fact.lower()) != fact:
            return None
        group_cols = [c.strip() for c in m.group(4).split(",")]
        filter_cols: set[str] = set()
        if where_s:
            # identifiers = word tokens outside string literals that are
            # not predicate keywords; ALL must be fact columns (else an
            # expression we cannot reason about -> no routing)
            no_lit = re.sub(r"'[^']*'", "''", where_s)
            kw = {"and", "or", "not", "in", "like", "between", "is", "null",
                  "true", "false", "escape"}
            idents = {
                tok for tok in re.findall(r"[A-Za-z_]\w*", no_lit) if tok.lower() not in kw
            }
            fact_cols = set(self.store.schema(fact).fieldNames())
            if not idents <= fact_cols:
                return None
            filter_cols = idents
        items = [i.strip() for i in _split_cols(m.group(1))]
        measures: dict[str, list[str]] = {}
        out_cols: list[tuple[str, str | None, str]] = []  # (fn|dim|count_star, col, alias)
        for it in items:
            mm = re.fullmatch(r"(\w+)\s*\(\s*(\*|\w+)\s*\)(?:\s+as\s+(\w+))?", it, _I)
            if mm:
                fn, col, alias = mm.group(1).lower(), mm.group(2), mm.group(3)
                if fn == "count" and col == "*":
                    out_cols.append(("count_star", None, alias or "count_star"))
                    continue
                if fn not in ("sum", "count", "min", "max", "avg"):
                    return None
                measures.setdefault(col, []).append(fn)
                out_cols.append((fn, col, alias or f"{fn}_{col}"))
            elif re.fullmatch(r"\w+", it) and it in group_cols:
                out_cols.append(("dim", it, it))
            else:
                return None
        chosen = choose_rollup(
            self.store, fact, [*group_cols, *sorted(filter_cols - set(group_cols))], measures
        )
        if chosen is None:
            return None
        summary = self.store.table(f"{fact}_agg_{chosen}")
        if where_s:
            summary = summary.filter(F.expr(where_s))
        aggs = []
        for kind, col, alias in out_cols:
            if kind == "dim":
                continue
            if kind == "count_star":
                aggs.append(F.sum("count_all").alias(alias))
            elif kind == "sum":
                aggs.append(F.sum(f"sum_{col}").alias(alias))
            elif kind == "count":
                aggs.append(F.sum(f"count_{col}").alias(alias))
            elif kind == "min":
                aggs.append(F.min(f"min_{col}").alias(alias))
            elif kind == "max":
                aggs.append(F.max(f"max_{col}").alias(alias))
            elif kind == "avg":
                aggs.append((F.sum(f"sum_{col}") / F.sum(f"count_{col}")).alias(alias))
        res = summary.groupBy(*group_cols).agg(*aggs)
        return res.select(*[F.col(alias) for _, _, alias in out_cols])

    def _passthrough(self, s: str, names: dict[str, str]) -> DataFrame:
        """Spark SQL over the store's tables registered as views."""
        # Time travel in SQL: `FROM <t> AS OF TIMESTAMP '<iso>'` registers
        # a view of the historical segment set (store.table(as_of_ts=...))
        # under a mangled name and rewrites the reference — the SELECT
        # surface for the manifest's invalidation timestamps.
        stmt_asof_views: set[str] = set()  # views THIS statement references

        def _asof_sub(m: re.Match) -> str:
            tname = names.get(m.group(1).lower())
            if tname is None:
                return m.group(0)
            dt = datetime.fromisoformat(m.group(2))
            # honor an explicit offset; only ASSUME UTC for naive literals
            # (replace() on an aware datetime would silently discard the
            # offset and shift the historical view)
            dt = dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt
            ts = dt.timestamp()
            view = f"{tname}_asof_{int(ts * 1000)}"
            self.store.table(tname, as_of_ts=ts).createOrReplaceTempView(view)
            self._asof_views.setdefault(tname, set()).add(view)
            stmt_asof_views.add(view)
            return view

        s = re.sub(r"\b(\w+) as of timestamp '([^']+)'", _asof_sub, s, flags=_I)

        # register ONLY the store tables the statement references as
        # views, then run Spark SQL. Building a view is O(#segments)
        # driver work (manifest read + per-segment scan union), so
        # registering every table on every sql() call would be
        # O(#tables × #segments) per statement; token matching keeps it
        # proportional to the statement. False positives (a table name in
        # a string literal) cost one extra view build, never correctness.
        tokens = {tok.lower() for tok in re.findall(r"[A-Za-z_]\w*", s)}
        for lower, tname in names.items():
            if lower in tokens:
                self.store.register_view(tname)
        df = self.spark.sql(s)
        # Bound catalog growth — a polling session issuing fresh
        # timestamps would otherwise accumulate an analyzed
        # union-of-segments plan per call, forever. Dropping is DEFERRED
        # until after spark.sql() so a statement referencing the same
        # table at two timestamps (snapshot diff) keeps both views live
        # through analysis; spark.sql analyzes eagerly, so the returned
        # DataFrame holds resolved relations and survives the drop.
        if stmt_asof_views:
            for views in self._asof_views.values():
                for v in views - stmt_asof_views:
                    self.spark.catalog.dropTempView(v)
                views &= stmt_asof_views
            self._asof_views = {t: v for t, v in self._asof_views.items() if v}
        return df


def _quoted(s: str) -> Iterator[tuple[int, str, bool]]:
    """(index, char, inside a quoted literal) for each character of
    ``s``; both quote characters of a literal count as inside. Single
    and double quotes delimit literals. A quote escaped by doubling ('')
    closes and reopens the literal, so it needs no special case."""
    quote: str | None = None
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
            yield i, ch, True
        elif ch in "'\"":
            quote = ch
            yield i, ch, True
        else:
            yield i, ch, False


def _squash(s: str) -> str:
    """Collapse each whitespace run outside quoted literals to one space
    and trim the ends, so the patterns can spell a gap as one space;
    literals keep their whitespace byte for byte."""
    out: list[str] = []
    gap = False
    for _, ch, quoted in _quoted(s):
        if ch.isspace() and not quoted:
            gap = bool(out)
            continue
        if gap:
            out.append(" ")
            gap = False
        out.append(ch)
    return "".join(out)


def _split_cols(s: str) -> list[str]:
    """Split a column list on commas not inside <> or () (decimal(10,2),
    array<...>) and not inside string literals (UPDATE ... SET
    c = 'a, b', ...)."""
    out, depth, cur = [], 0, []
    for _, ch, quoted in _quoted(s):
        if not quoted and ch in "<(":
            depth += 1
        elif not quoted and ch in ">)":
            depth -= 1
        if ch == "," and depth == 0 and not quoted:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _find_keyword(s: str, kw: str) -> int:
    """Index of the first whole-word ``kw`` outside single/double-quoted
    string literals (case-insensitive), or -1."""
    pat = re.compile(rf"\b{kw}\b", _I)
    for i, _, quoted in _quoted(s):
        if not quoted and pat.match(s, i):
            return i
    return -1


# A table name: the named group ``t`` that CarbonSession.sql resolves
# against the store, after an optional schema qualifier the
# single-namespace store ignores.
_T = r"(?:\w+\.)?(?P<t>\w+)"

# One entry per statement, tried in order; the first whose pattern
# matches the whole (whitespace-squashed) statement answers it, unless
# its handler returns None. Patterns match case-insensitively, and `.`
# also matches a newline kept inside a quoted literal.
_ROUTES = [
    (re.compile(p, _I | re.S), handler)
    for p, handler in [
        (r"show tables", lambda self, m, t, names: self._rows(
            [{"table_name": n} for n in names.values()], "table_name string")),
        (rf"show (?:segments|loads) for (?:table|cube) {_T}(?: limit (?P<n>\d+))?",
         CarbonSession._show_segments),
        (rf"delete (?:load|segments) (?P<ids>[\d,\s]+) from (?:table|cube) {_T}",
         CarbonSession._delete_segments),
        (rf"delete (?:segments )?from (?:table|cube) {_T}"
         r" where (?P<col>\w+) before '(?P<ts>[^']+)'",
         CarbonSession._delete_before),
        (rf"clean files for (?:table|cube) {_T}", CarbonSession._clean_files),
        (rf"show create cube {_T}.*", CarbonSession._show_create_cube),
        (rf"drop (?:table|cube) (?P<ie>if exists )?{_T}", CarbonSession._drop),
        (rf"drop aggregate table (?P<ie>if exists )?(?:(?P<q>\w+)\.)?(?P<a>\w+)"
         rf"(?: on (?:table|cube) {_T})?",
         CarbonSession._drop_aggregate),
        (rf"show aggregate tables(?: in \w+| for (?:table|cube) {_T})?",
         CarbonSession._show_aggregates),
        # `<name> ... GROUP BY (...) AGGREGATES (...)`, or the reference's
        # auto-named `<dims and agg(m)s> FROM ...`
        (rf"create aggregatetable (?P<items>.+?) from (?:table|cube) {_T}"
         r"(?: group by \((?P<g>[\w\s,]+)\) aggregates \((?P<aggs>.+)\))?",
         CarbonSession._create_aggregate),
        (r"show (?:all )?cubes(?: in \w+)?(?P<detail> detail)?", CarbonSession._show_cubes),
        (r"show (?:schemas|databases)", lambda self, m, t, names: self._rows(
            [{"namespace": "default"}], "namespace string")),
        # single-namespace store: USE is accepted for script parity
        (r"use \w+", lambda self, m, t, names: self._rows([{"ok": True}], "ok boolean")),
        (rf"delete from (?:table |cube )?{_T} where (?P<pred>.+)", CarbonSession._delete_rows),
        (rf"update (?:table |cube )?{_T} set (?P<rest>.+)", CarbonSession._update_rows),
        (rf"merge into {_T} using (?:\w+\.)?(?P<src>\w+) on (?P<on>.+?)"
         r"(?P<matched> when matched then update set (?:\*|.+?))?"
         r"(?P<insert> when not matched then insert \*)?",
         CarbonSession._merge),
        # FROM'path' with no space is the spelling the reference's own
        # test suite uses (AllDataTypesTestCaseAggregate.scala:50)
        (r"load data (?:(?:local )?inpath|fact from)\s*'(?P<path>[^']+)'"
         r"(?P<dim> dimension from .+?)?(?P<ow> overwrite)?"
         rf" into (?:table|cube) {_T}"
         r"(?: (?:options|partitiondata)\s*\((?P<opts>.+?)\))?"
         r"(?: fields terminated by '(?P<delim>[^']+)')?",
         CarbonSession._load),
        (rf"alter cube {_T}"
         r"(?: drop \((?P<drop>[^)]*)\))?"
         r"(?P<add> add(?: dimensions \((?P<dims>.+?)\))?(?: measures \((?P<meas>.+?)\))?"
         r"(?P<with> with .+?)?)?"
         r"(?: options \((?P<opts>.+)\))?",
         CarbonSession._alter_cube),
        (rf"alter table {_T} add columns \((?P<cols>.+?)\)(?: defaults \((?P<defs>.+?)\))?",
         CarbonSession._add_columns),
        (rf"alter table {_T} drop columns \((?P<cols>[\w\s,]+)\)", CarbonSession._drop_columns),
        (rf"alter table {_T} compact", CarbonSession._compact),
        (rf"(?:describe|desc)(?P<detail> formatted| extended)? {_T}", CarbonSession._describe),
        # `dimensions(`/`measures(` with no space before the paren is how
        # the reference's own tests spell it
        # (AllDataTypesTestCaseAggregate.scala:41); MEASURES is optional:
        # its typed suites create measure-less cubes
        # (sortexpr/TimestampDataTypeTestCase.scala:36)
        (rf"create cube (?P<ine>if not exists )?{_T}"
         r" dimensions\s*\((?P<dims>.+?)\)(?: measures\s*\((?P<meas>.+?)\))?"
         r"(?: options\s*\((?P<opts>.+)\))?",
         CarbonSession._create_cube),
        # the plain form (SORTED BY) or the Hive-syntax STORED BY form
        (rf"create table (?P<ine>if not exists )?{_T}\s*\((?P<cols>.+?)\)"
         r"(?:(?: sorted by \((?P<sort>[\w\s,]+)\))?(?: partitioned by \((?P<parts>[\w\s,]+)\))?"
         r"|(?: partitioned by \((?P<pcols>.+?)\))? stored by '(?P<handler>[^']+)'"
         r"(?: tblproperties\s*\((?P<props>.+)\))?)",
         CarbonSession._create_table),
    ]
]
