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
* **One pass, no inference.** ``build_blooms`` fills the blooms of any
  number of new segments in ONE ``groupBy(segment)`` aggregation:
  ``approx_count_distinct`` of each bloom column (which sizes m) and the
  ``collect_set`` of its k positions, side by side. The positions cannot
  wait for m, so they are taken modulo a *fold modulus* M: a power of
  two of at least 2·BITS_PER_DISTINCT·rows, from the footer row count
  the store already holds, capped at MAX_BITS. The driver then sizes
  m = ``_size_bits(ndv)`` and sets bit p mod m. m is a power of two no
  larger than M, so it divides M and (x mod M) mod m == x mod m: the
  bitset is bit-identical to an m-bit build. Only an HLL estimate above
  2·rows makes m exceed M; m is then clamped to M. The store reads the
  new segments with the table schema, so no schema-inference job runs.
* **Bounded driver state.** A segment of at most
  MAX_BITS // BITS_PER_DISTINCT rows cannot saturate, and its
  ``collect_set`` holds at most min(k·ndv, M) ≤ MAX_BITS positions
  (2^23; the bitset is at most 1 MiB): the same bounded-metadata class
  as the parquet footer min/max the zone maps read. A larger
  segment first gets an ``approx_count_distinct`` pass; its fold
  modulus is then m itself, and a column that saturates collects no
  positions at all. This module is the documented `.collect()`
  allowlist entry in tests/test_antipatterns.py.
* **Honest saturation.** m is sized from a measured
  approx_count_distinct (~10 bits/distinct ≈ 1% FPR at k=7). When a
  segment's cardinality would need more than MAX_BITS, NO bloom is
  stored — the segment is simply never pruned (correct, just not
  faster), rather than storing a saturated filter that prunes nothing
  while looking like it could. A 0-row segment stores the all-zero
  MIN_BITS bitset, which prunes every probe.
* **Carried, not rebuilt.** A rewrite that leaves the bloom columns'
  values alone keeps its source segment's entries instead of reading
  its data again (``store.CarbonStore._rewrite``). An UPDATE that
  assigns no bloom column, and a MERGE whose update columns include no
  bloom column, keep the same multiset of values, so the carried entry
  is the one a rebuild would give. A DELETE keeps a subset of the
  rows, so the carried entry is a superset of a rebuild: it never
  prunes a segment that holds a key, and the deleted keys stay false
  positives until compaction builds the filter afresh. Only a MERGE's
  insert segment, rewrites that assign a bloom column and rewrites of a
  source without an entry for every bloom column get a fresh build.
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
    streams (the second salted with the column name), used by
    ``build_blooms``; ``probe_positions`` is its driver-side twin. ``m``
    may be an int literal or a Column (``build_blooms`` maps each row's
    segment tag to that segment's fold modulus — same modular math
    either way)."""
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


def _fold_bits(rows: int) -> int:
    """The fold modulus of a segment of ``rows`` rows: the smallest power
    of two of at least 2·BITS_PER_DISTINCT·rows, within [MIN_BITS,
    MAX_BITS]. Every ``_size_bits`` result for up to 2·rows distinct
    values divides it."""
    m = MIN_BITS
    while m < 2 * BITS_PER_DISTINCT * rows and m < MAX_BITS:
        m <<= 1
    return m


def _entry(m: int, positions) -> dict:
    ba = bytearray(m // 8)
    for p in positions:
        p %= m
        ba[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": K_HASHES, "bits": base64.b64encode(bytes(ba)).decode("ascii")}


def build_blooms(
    df: DataFrame, tag_col: str, cols: list[str], rows: dict[int, int]
) -> dict[int, dict[str, dict]]:
    """{tag: {col: {"m", "k", "bits"}}} for every tag in ``rows`` (tag ->
    the segment's row count, from its footers): the blooms of the
    segments whose rows ``df`` holds, each row tagged with its segment
    in ``tag_col``. A (segment, column) that would saturate MAX_BITS
    gets no entry; a 0-row segment gets the all-zero MIN_BITS bitset
    without a read.

    One ``groupBy(tag_col)`` aggregation computes, per (segment,
    column), ``approx_count_distinct`` and the ``collect_set`` of the k
    positions taken modulo the segment's fold modulus; the driver then
    sizes m and folds the positions into it (see the module docstring).
    Segments too large to rule out saturation from their row count get
    an ``approx_count_distinct`` pass first."""
    out: dict[int, dict[str, dict]] = {t: {} for t in rows}
    live = {t: _fold_bits(n) for t, n in rows.items() if n > 0}
    for t in rows.keys() - live.keys():
        out[t] = {c: _entry(MIN_BITS, []) for c in cols}
    if not live or not cols:
        return out
    # per column, tag -> modulus of its positions; a saturating
    # (segment, column) has none and contributes no positions
    fold = {c: dict(live) for c in cols}
    big = [t for t in live if rows[t] > MAX_BITS // BITS_PER_DISTINCT]
    if big:
        for r in (
            df.where(F.col(tag_col).isin(big))
            .groupBy(tag_col)
            .agg(*[F.approx_count_distinct(c).alias(c) for c in cols])
            .collect()
        ):
            for c in cols:
                m = _size_bits(r[c])
                if m is None:
                    del fold[c][int(r[tag_col])]
                else:
                    fold[c][int(r[tag_col])] = m
    hashed = []
    for i, c in enumerate(cols):
        pairs = [x for t, m in fold[c].items() for x in (t, m)]
        m_col = F.try_element_at(
            F.create_map(*[F.lit(v) for v in pairs]), F.col(tag_col)
        ) if pairs else F.lit(None).cast("long")
        # xxhash64 of NULL is the seed, not NULL: NULLs set no bits
        hashed += [
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.when(F.col(c).isNotNull(), p).alias("p"),
            )
            for j, p in enumerate(_position_exprs(c, m_col))
        ]
    e_name = "_e"
    while e_name in (tag_col, *cols):
        e_name = f"_{e_name}"
    e = F.col(e_name)
    # approx_count_distinct reads each value once, at its first position
    # entry; the count is the one the plain column gives (NULLs skipped)
    got = {
        int(r[tag_col]): r
        for r in df.select(tag_col, *cols, F.explode(F.array(*hashed)).alias(e_name))
        .groupBy(tag_col)
        .agg(
            *[
                F.approx_count_distinct(
                    F.when((e["i"] == i) & (e["j"] == 0), F.col(c))
                ).alias(f"_n{i}")
                for i, c in enumerate(cols)
            ],
            *[
                F.collect_set(F.when(e["i"] == i, e["p"])).alias(f"_p{i}")
                for i in range(len(cols))
            ],
        )
        .collect()
    }
    for t in live:
        for i, c in enumerate(cols):
            m = _size_bits(got[t][f"_n{i}"]) if t in fold[c] else None
            if m is not None:
                # m divides the fold modulus, so the folded positions are
                # the ones an m-bit build would set; HLL overshooting
                # 2·rows is the only way m can exceed it
                out[t][c] = _entry(min(m, fold[c][t]), got[t][f"_p{i}"])
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
