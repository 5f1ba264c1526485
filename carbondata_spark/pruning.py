"""Segment pruning — the one place that knows the manifest's zone-map domain.

Every segment keep/drop decision of the store goes through this module:
``scan``'s range and point paths, the candidates of row-level DELETE and
UPDATE, and the candidates of MERGE. It is the rebuild of the reference's
single driver-side block pruner (CarbonInputFormat.java:177-201).

The stats domain. A segment's manifest ``stats`` hold a [min, max] per
sort column, read from its parquet footers (``footer_value``): numbers
stay numbers, strings stay strings, and dates and timestamps become
``'YYYY-MM-DD HH:MM:SS'`` strings cut to the second, so bounds compare
lexicographically. A predicate literal is mapped into that domain by the
type of the column it is compared with (``_to_stats_domain``); a literal
whose comparison there could disagree with Spark's own comparison under
some session timezone is not mapped, and its conjunct keeps every
segment. A pruned segment must provably hold no matching row; a kept one
only costs a read.
"""

from __future__ import annotations

import datetime
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from carbondata_spark.bloom import might_contain, probe_positions

_STATS_FMT = "%Y-%m-%d %H:%M:%S"
_SPARK_STATS_FMT = "yyyy-MM-dd HH:mm:ss"
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}$")
_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)
_INTEGRAL_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}
# the row-granular MERGE prune builds one aggregate expression per
# segment; past this many segments MERGE prunes on the source's key range
_MAX_HIT_SEGMENTS = 256


def footer_value(v: Any) -> Any:
    """A parquet footer min/max in the stats domain; None for values the
    domain has no faithful form for (the column is then never pruned)."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.strftime(_STATS_FMT)
    if isinstance(v, bytes):
        v = v.decode("utf-8", "replace")
    if isinstance(v, (int, float, str)):
        return v
    return None


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _to_stats_domain(dtype: T.DataType, op: str, vals: list) -> tuple | None:
    """``(op, vals)`` with the literals mapped into the stats domain of a
    ``dtype`` column, or None when a comparison there could disagree with
    Spark's comparison of the column against those literals.

    - numbers against numeric columns, strings against UTF8_BINARY string
      columns (a collated column compares by its collation, the stats by
      binary order; a string with no UTF-8 form has no Spark value);
    - against DATE and TIMESTAMP_NTZ columns: ``'YYYY-MM-DD'`` strings and
      ``datetime.date`` values mean midnight; a ``'YYYY-MM-DD HH:MM:SS'``
      string keeps its time against TIMESTAMP_NTZ and is cut to midnight
      against DATE, as Spark's string-to-date cast does. Fractional
      seconds and other string shapes are not mapped. ``datetime``
      values are not mapped: Spark reads them as session-timezone
      instants;
    - TIMESTAMP (local time zone) columns are never pruned: a literal's
      meaning depends on the session timezone;
    - everything else (decimals, booleans, mismatched types) is not mapped.
    """
    if isinstance(dtype, _NUMERIC):
        return (op, vals) if all(_is_number(v) for v in vals) else None
    if isinstance(dtype, T.StringType):
        return (op, vals) if _binary_strings(dtype, vals) else None
    if not isinstance(dtype, (T.DateType, T.TimestampNTZType)):
        return None
    out = []
    for v in vals:
        if type(v) is datetime.date:
            v = v.isoformat()
        if not isinstance(v, str):
            return None
        if _DATE_RE.match(v):
            out.append(v + " 00:00:00")
        elif _TS_RE.match(v):
            if isinstance(dtype, T.DateType):
                out.append(v[:10] + " 00:00:00")
            else:
                out.append(v.replace("T", " "))
        else:
            return None
    if isinstance(dtype, T.TimestampNTZType) and op == ">":
        # stats are cut to the second: a max of 'x' may stand for 'x.5'
        op = ">="
    return op, out


def _binary_strings(dtype: T.StringType, vals: list) -> bool:
    """Whether ``vals`` are strings Spark compares with a ``dtype``
    column by UTF-8 byte order, as the stats and blooms hold them."""
    if not dtype.isUTF8BinaryCollation() or not all(isinstance(v, str) for v in vals):
        return False
    try:
        "".join(vals).encode("utf-8")
    except UnicodeEncodeError:
        return False
    return True


def _bloomable(dtype: T.DataType, vals: list) -> bool:
    """Whether ``probe_positions`` hashes ``vals`` exactly as the load
    side hashed the column's values: same type, and in range."""
    if isinstance(dtype, T.StringType):
        return _binary_strings(dtype, vals)
    if isinstance(dtype, T.DateType):
        return all(type(v) is datetime.date for v in vals)
    bits = _INTEGRAL_BITS.get(type(dtype))
    if bits is None:
        return False
    lim = 1 << (bits - 1)
    return all(
        isinstance(v, int) and not isinstance(v, bool) and -lim <= v < lim
        for v in vals
    )


def _zone_miss(rng: list | None, dom: tuple | None) -> bool:
    """True when the segment [min, max] ``rng`` provably holds no value
    satisfying the stats-domain conjunct ``dom``."""
    if rng is None or dom is None:
        return False
    op, vals = dom
    mn, mx = rng
    try:
        if op in ("=", "in"):
            return not any(mn <= v <= mx for v in vals)
        v = vals[0]
        return {"<": mn >= v, "<=": mn > v, ">": mx <= v, ">=": mx < v}[op]
    except TypeError:
        return False  # stats and literal domains disagree: keep


def prune(
    segments: list,
    schema: T.StructType,
    conjuncts: list[tuple[str, str, list]],
) -> list:
    """The ``segments`` that may hold a row satisfying every conjunct.

    ``conjuncts`` are ``(column, op, values)`` with op in ``=``, ``in``,
    ``<``, ``<=``, ``>``, ``>=`` (the shape ``sql_prunable_conjuncts``
    returns). A segment is dropped when its zone map excludes the values
    of some conjunct, or, for ``=``/``in``, when its bloom filter holds
    none of them. Columns resolve case-insensitively; unknown columns,
    statless segments and unmappable literals keep the segment.
    """
    by_lower = {f.name.lower(): f for f in schema.fields}
    checks = []
    for col, op, vals in conjuncts:
        fld = by_lower.get(col.lower())
        if fld is None:
            continue
        dom = _to_stats_domain(fld.dataType, op, vals)
        bloom = op in ("=", "in") and _bloomable(fld.dataType, vals)
        if dom is not None or bloom:
            checks.append((fld, dom, bloom, list(vals)))
    if not checks:
        return list(segments)
    # probe positions depend on the filter geometry only; segments loaded
    # at the same cardinality share one
    positions: dict[tuple, list[list[int]]] = {}

    def bloom_miss(e, fld, vals) -> bool:
        b = e.blooms.get(fld.name)
        if b is None:
            return False
        key = (fld.name, tuple(vals), b["m"], b["k"])
        if key not in positions:
            positions[key] = probe_positions(
                fld.name, fld.dataType, vals, b["m"], b["k"]
            )
        return not any(might_contain(b, ps) for ps in positions[key])

    return [
        e
        for e in segments
        if not any(
            _zone_miss(e.stats.get(fld.name), dom)
            or (bloom and bloom_miss(e, fld, vals))
            for fld, dom, bloom, vals in checks
        )
    ]


def stats_column(name: str, dtype: T.DataType) -> Column | None:
    """Column ``name`` as a Spark expression in the stats domain — the
    row-granular twin of ``_to_stats_domain`` — or None for the types
    that domain does not hold faithfully."""
    if isinstance(dtype, _NUMERIC) or (
        isinstance(dtype, T.StringType) and dtype.isUTF8BinaryCollation()
    ):
        return F.col(name)
    if isinstance(dtype, (T.DateType, T.TimestampNTZType)):
        return F.date_format(F.col(name), _SPARK_STATS_FMT)
    return None


def zone_hit_conditions(
    segments: list, keys: list[str], schema: T.StructType
) -> dict[int, Column | None] | None:
    """Per-segment row-granular zone-map conditions over a MERGE source:
    segment id -> a Column true for a source row iff every key falls
    inside the segment's [min, max]. That is necessary for the row to
    match any row of the segment, so no hit proves the segment holds no
    source key — tighter than the source's global key range, since a
    segment sitting in a gap of the source keys is pruned too.

    A key without usable stats contributes no condition; a segment with
    no usable key maps to None (always a candidate). Returns None for no
    segments or more than ``_MAX_HIT_SEGMENTS`` (callers then prune on
    the source's key range).
    """
    if not segments or len(segments) > _MAX_HIT_SEGMENTS:
        return None
    types = {f.name: f.dataType for f in schema.fields}
    out: dict[int, Column | None] = {}
    for e in segments:
        cond = None
        for k in keys:
            col = stats_column(k, types[k])
            rng = e.stats.get(k)
            dom = None if rng is None else _to_stats_domain(types[k], "in", rng)
            if col is None or dom is None:
                continue
            hit = (col >= F.lit(dom[1][0])) & (col <= F.lit(dom[1][1]))
            cond = hit if cond is None else cond & hit
        out[e.segment_id] = cond
    return out


_PRUNE_IDENT = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
_PRUNE_LIT = r"(-?\d+(?:\.\d+)?|'(?:[^']|'')*')"
_PRUNE_CMP = re.compile(rf"^{_PRUNE_IDENT}\s*(=|<=|>=|<|>)\s*{_PRUNE_LIT}$")
_PRUNE_CMP_REV = re.compile(rf"^{_PRUNE_LIT}\s*(=|<=|>=|<|>)\s*{_PRUNE_IDENT}$")
_PRUNE_IN = re.compile(
    rf"^{_PRUNE_IDENT}\s+[Ii][Nn]\s*\((\s*{_PRUNE_LIT}(?:\s*,\s*{_PRUNE_LIT})*\s*)\)$"
)
_PRUNE_LIT_RE = re.compile(_PRUNE_LIT)
_PRUNE_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}


def _prune_lit_val(tok: str):
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    return float(tok) if "." in tok else int(tok)


def sql_prunable_conjuncts(sql: str) -> list[tuple[str, str, list]]:
    """Extract zone-map-checkable conjuncts from a SQL predicate string:
    [(column_token, op, values)] with op in {'=','<','<=','>','>=','in'}
    and values Python literals.

    SOUNDNESS RULES (a pruned segment must PROVABLY contain no matching
    row): only TOP-LEVEL ``AND`` conjuncts are split (quote- and paren-
    aware), and the whole extraction bails to [] if a top-level ``OR``
    appears — per-conjunct exclusion is unsound under disjunction. A
    conjunct that doesn't match the simple ``col <op> literal`` /
    ``col IN (literals)`` shapes (functions, column-to-column compares,
    NOT, nested boolean) contributes NOTHING — it can never cause a
    prune. NULL semantics are safe for the shapes we do parse: a
    comparison conjunct is satisfied only by non-NULL values, exactly
    the population footer min/max describes.
    """
    s = sql.strip()
    frags: list[str] = []
    buf: list[str] = []
    depth = 0
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0 and (c.isalpha() or c == "_"):
            j = i
            while j < n and (s[j].isalnum() or s[j] == "_"):
                j += 1
            w = s[i:j]
            if w.upper() == "AND":
                frags.append("".join(buf))
                buf = []
            elif w.upper() == "OR":
                return []  # top-level disjunction: no sound pruning
            else:
                buf.append(w)
            i = j
            continue
        buf.append(c)
        i += 1
    frags.append("".join(buf))

    def strip_parens(t: str) -> str:
        t = t.strip()
        while t.startswith("(") and t.endswith(")"):
            depth = 0
            for k, ch in enumerate(t):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and k != len(t) - 1:
                        return t  # parens don't enclose the whole frag
            t = t[1:-1].strip()
        return t

    out: list[tuple[str, str, list]] = []
    for frag in frags:
        frag = strip_parens(frag)
        m = _PRUNE_CMP.match(frag)
        if m:
            out.append((m.group(1), m.group(2), [_prune_lit_val(m.group(3))]))
            continue
        m = _PRUNE_CMP_REV.match(frag)
        if m:  # literal <op> col: flip the operator
            out.append(
                (m.group(3), _PRUNE_FLIP[m.group(2)], [_prune_lit_val(m.group(1))])
            )
            continue
        m = _PRUNE_IN.match(frag)
        if m:
            vals = [
                _prune_lit_val(t.group(0))
                for t in _PRUNE_LIT_RE.finditer(m.group(2))
            ]
            out.append((m.group(1), "in", vals))
    return out
