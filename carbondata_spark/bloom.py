"""Per-segment bloom filters: point-lookup segment pruning for the store.

Zone maps (`store._collect_segment_stats`) prune RANGE predicates on the
clustered sort columns, but are blind to point lookups on
high-cardinality columns whose values interleave across segments — the
[min, max] of every segment spans the whole domain, so nothing prunes.
The reference served exactly this access path with its inverted index
inside blocklets (`/root/reference/core/src/main/java/org/carbondata/
core/datastorage/store/columnar/ColumnWithIntIndex.java`, used by the
filter evaluators in `org/carbondata/query/filter/executer/`); the
rebuild's analogue is a manifest-level bloom per (segment, column):
``scan(table, column=c, eq=v)`` tests v against each segment's bloom and
skips segments that provably don't contain it — a needle-in-haystack
query on a 100-TB table then reads only the segments the key could be
in, without any global sort or index table.

Design constraints, in order:

* **No Spark job to probe.** The load side sets bits with JVM-side
  ``xxhash64`` expressions (`_position_exprs`); the probe computes the
  same positions on the driver (`probe_positions`, a port of Spark's
  XXH64 with its 64-bit wrapping and ``pmod``), so planning a point
  lookup starts no job. The two must never diverge — a probe position
  the load side did not set would prune a segment holding the key —
  and ``tests/test_bloom.py`` pins their parity for every bloomable
  type, the integer extremes, pre-1970 dates, empty, long and non-ASCII
  strings, and every filter geometry.
* **Bounded driver state.** The bitset is built from
  ``collect_set(position)`` — its size is min(k·ndv, m) ≤ m bits
  (2^23 max = 1 MiB), INDEPENDENT of row count: the same bounded-
  metadata class as the parquet footer min/max the zone maps read.
  This module is the documented `.collect()` allowlist entry in
  tests/test_antipatterns.py.
* **Honest saturation.** m is sized from a measured
  approx_count_distinct (~10 bits/distinct ≈ 1% FPR at k=7). When a
  segment's cardinality would need more than MAX_BITS, NO bloom is
  stored — the segment is simply never pruned (correct, just not
  faster), rather than storing a saturated filter that prunes nothing
  while looking like it could.
"""

from __future__ import annotations

import base64
import datetime
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

K_HASHES = 7
BITS_PER_DISTINCT = 10  # ~1% false-positive rate at k=7
MIN_BITS = 1 << 10
MAX_BITS = 1 << 23  # 1 MiB bitset per (segment, column) cap


def _position_exprs(col: str, m, k: int = K_HASHES):
    """The k bit positions of a value, as Spark Column expressions —
    Kirsch-Mitzenmacher double hashing over two independent xxhash64
    streams (the second salted with the column name). Shared verbatim by
    the load-side bit setter and the grouped multi-segment collector;
    ``probe_positions`` is its driver-side twin. ``m`` may be an int
    literal or a Column (the grouped collector maps each row's segment
    tag to that segment's bitset size — same modular math either way)."""
    m_col = F.lit(m) if isinstance(m, int) else m
    h1 = F.pmod(F.xxhash64(F.col(col)), m_col)
    h2 = F.pmod(F.xxhash64(F.col(col), F.lit(col)), m_col)
    # each hash is reduced mod m BEFORE the linear combination, so the
    # largest intermediate is (k-1)*m + m <= 2^26 — no 64-bit overflow
    # under ANSI arithmetic, and the combination is exact modular math
    # rather than relying on JVM wrapping
    return [F.pmod(h1 + F.lit(i) * h2, m_col).cast("int") for i in range(k)]


def _size_bits(ndv: int) -> int | None:
    """Bitset size for a measured distinct count, or None when even
    MAX_BITS would saturate (no bloom is better than a lying bloom)."""
    need = max(1, ndv) * BITS_PER_DISTINCT
    if need > MAX_BITS:
        return None
    m = MIN_BITS
    while m < need:
        m <<= 1
    return m


def compute_segment_blooms(df: DataFrame, cols: list[str]) -> dict[str, dict]:
    """{col: {"m": bits, "k": hashes, "bits": base64 bitset}} for the
    bloom columns present in ``df`` (one segment's data).

    Two distributed jobs regardless of column count: an
    approx_count_distinct probe to size each bitset, then one union of
    per-column position frames aggregated by ``collect_set`` — the
    partial aggregation state is capped at m positions per column per
    task, so the shuffle and the driver result are both bounded by the
    bitset size, never by the row count.
    """
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}
    ndv = df.agg(
        *[F.approx_count_distinct(c).alias(c) for c in present]
    ).collect()[0]
    sized = [(c, _size_bits(ndv[c])) for c in present]
    sized = [(c, m) for c, m in sized if m is not None]
    if not sized:
        return {}
    frames = [
        df.where(F.col(c).isNotNull()).select(
            F.lit(c).alias("col"),
            F.explode(F.array(*_position_exprs(c, m))).alias("pos"),
        )
        for c, m in sized
    ]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionAll(f)
    rows = union.groupBy("col").agg(F.collect_set("pos").alias("ps")).collect()
    positions = {r["col"]: r["ps"] for r in rows}
    out: dict[str, dict] = {}
    for c, m in sized:
        ba = bytearray(m // 8)
        for p in positions.get(c, []):
            ba[p >> 3] |= 1 << (p & 7)
        out[c] = {
            "m": m,
            "k": K_HASHES,
            "bits": base64.b64encode(bytes(ba)).decode("ascii"),
        }
    return out


def compute_segment_blooms_grouped(
    df: DataFrame, tag_col: str, cols: list[str]
) -> dict[int, dict[str, dict]]:
    """Per-(segment, column) blooms for a TAGGED multi-segment frame —
    the batch companion of ``compute_segment_blooms`` for the r15
    single-job rewrite writer (store._write_rewrites): a broad UPDATE or
    MERGE on a bloom table produces many new segments at once, and
    collecting their filters one segment at a time would be the last
    O(#affected) job loop on that path.

    TWO distributed jobs total regardless of segment count: one grouped
    approx_count_distinct sizes every (segment, column) bitset, then one
    union of per-column position frames — each row's positions computed
    with ITS segment's bitset size via a tag→m map column through the
    SAME ``_position_exprs`` builder the single-segment path uses —
    aggregated by (segment, column) ``collect_set``.
    Driver state stays bounded by Σ min(k·ndv, m) bits, the same
    metadata class as the single-segment path; a (segment, column)
    whose cardinality would saturate MAX_BITS stores no bloom, exactly
    like the single-segment sizing rule."""
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}
    ndv_rows = df.groupBy(tag_col).agg(
        *[F.approx_count_distinct(c).alias(c) for c in present]
    ).collect()
    out: dict[int, dict[str, dict]] = {int(r[tag_col]): {} for r in ndv_rows}
    m_by: dict[int, dict[str, int]] = {}
    for r in ndv_rows:
        ms = {c: m for c in present if (m := _size_bits(r[c])) is not None}
        if ms:
            m_by[int(r[tag_col])] = ms
    if not m_by:
        return out
    frames = []
    for c in present:
        pairs = [x for t, ms in m_by.items() if c in ms for x in (t, ms[c])]
        if not pairs:
            continue
        m_col = F.element_at(
            F.create_map(*[F.lit(v) for v in pairs]), F.col(tag_col)
        )
        frames.append(
            df.where(F.col(c).isNotNull() & m_col.isNotNull()).select(
                F.col(tag_col).cast("int").alias("_tag"),
                F.lit(c).alias("col"),
                F.explode(F.array(*_position_exprs(c, m_col))).alias("pos"),
            )
        )
    union = frames[0]
    for f in frames[1:]:
        union = union.unionAll(f)
    rows = union.groupBy("_tag", "col").agg(
        F.collect_set("pos").alias("ps")
    ).collect()
    positions = {(int(r["_tag"]), r["col"]): r["ps"] for r in rows}
    # iterate m_by, not the collected rows: a (segment, column) whose
    # surviving rows are all NULL (e.g. after UPDATE ... SET c = NULL)
    # contributes no position rows but must still store the all-zero
    # bitset — bit-identical to the single-segment path's
    # positions.get(c, []) default — so point probes on that column keep
    # pruning the segment instead of always reading it
    for t, ms in m_by.items():
        for c, m in ms.items():
            ba = bytearray(m // 8)
            for p in positions.get((t, c), []):
                ba[p >> 3] |= 1 << (p & 7)
            out[t][c] = {
                "m": m,
                "k": K_HASHES,
                "bits": base64.b64encode(bytes(ba)).decode("ascii"),
            }
    return out


# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64), the
# hash behind F.xxhash64, over unsigned 64-bit Python ints
_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # F.xxhash64's seed
_EPOCH = datetime.date(1970, 1, 1)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = h * _P2 & _MASK
    h ^= h >> 29
    h = h * _P3 & _MASK
    return h ^ (h >> 32)


def _lane(acc: int, word: int) -> int:
    return _rotl((acc + word * _P2) & _MASK, 31) * _P1 & _MASK


def _hash_int(v: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _MASK
    h ^= (v & 0xFFFFFFFF) * _P1 & _MASK
    return _fmix((_rotl(h, 23) * _P2 + _P3) & _MASK)


def _hash_long(v: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _MASK
    h ^= _lane(0, v & _MASK)
    return _fmix((_rotl(h, 27) * _P1 + _P4) & _MASK)


def _hash_bytes(b: bytes, seed: int) -> int:
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _MASK, (seed + _P2) & _MASK, seed, (seed - _P1) & _MASK]
        while i <= n - 32:
            v = [_lane(a, w) for a, w in zip(v, struct.unpack_from("<4Q", b, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _MASK
        for a in v:
            h = ((h ^ _lane(0, a)) * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i <= n - 8:
        h ^= _lane(0, struct.unpack_from("<Q", b, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", b, i)[0] * _P1 & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    for c in b[i:]:
        h ^= c * _P5 & _MASK
        h = _rotl(h, 11) * _P1 & _MASK
    return _fmix(h)


def _hasher(dtype: T.DataType):
    """``(value, seed) -> hash`` as Spark hashes a non-null ``dtype``
    value, or None for the types the probe does not hash."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return _hash_int
    if isinstance(dtype, T.LongType):
        return _hash_long
    if isinstance(dtype, T.DateType):
        return lambda v, seed: _hash_int((v - _EPOCH).days, seed)
    if isinstance(dtype, T.StringType) and dtype.isUTF8BinaryCollation():
        return lambda v, seed: _hash_bytes(v.encode("utf-8"), seed)
    return None


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def probe_positions(
    col: str, dtype: T.DataType, values: list, m: int, k: int = K_HASHES
) -> list[list[int]]:
    """The k bit positions of each probe value for an m-bit filter: the
    positions ``_position_exprs`` gives that value in a ``dtype`` column
    named ``col``, computed on the driver. ``k`` comes from the manifest
    entry, so filters written under an older K_HASHES keep probing
    correctly. Values must be non-null and of ``dtype``'s Python type
    (``pruning._bloomable`` checks); raises TypeError for a type the
    load side's hash cannot be reproduced for (floats, decimals,
    timestamps, collated strings)."""
    hasher = _hasher(dtype)
    if hasher is None:
        raise TypeError(f"no driver-side bloom hash for {dtype.simpleString()}")
    salt = col.encode("utf-8")
    out = []
    for v in values:
        raw = hasher(v, _SEED)
        h1 = _signed(raw) % m
        h2 = _signed(_hash_bytes(salt, raw)) % m
        out.append([(h1 + i * h2) % m for i in range(k)])
    return out


def might_contain(bloom: dict, positions: list[int]) -> bool:
    """Bit test against a manifest bloom entry. True = the value MAY be
    in the segment (read it); False = provably absent (prune it)."""
    bits = base64.b64decode(bloom["bits"])
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)
