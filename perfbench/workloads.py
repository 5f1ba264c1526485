"""The four closed-loop workloads.

Each workload builds its inputs from the seed in ``setup``, then hands the
loop one *round* of operation kinds at a time; ``op(kind)`` builds each
operation just before it runs. A round always holds the same kinds (the
seed only orders them and picks their parameters), so every run measures
the same mix. ``Op.run`` is the timed part: the
call into the product and its collect or commit. ``Op.check`` is untimed
and compares the outcome with an expected value built without the product
(DuckDB oracles, the source parquet, or a model of the writes).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

OLAP_SHAPES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_revenue_forecast",
]
CORPUS_SHAPES = [
    "p_dedup_minhash_lsh",
    "p_dedup_groups",
    "p_text_tfidf",
    "p_sim_topk_bruteforce",
    "p_text_quality",
]

# Input sizes. "full" is what BENCHMARK.json runs; "smoke" is the
# self-test's (lineitem about the size of the sf0.01 test set).
PROFILES = {
    "full": {
        "olap_scale": 2.0,
        "lookup_orders": 40_000, "lookup_segments": 8,
        "cdc_orders": 20_000, "cdc_segments": 2, "cdc_batch": 1_000, "cdc_merge": 500,
        "docs": 400, "vectors": 1_000,
    },
    "smoke": {
        "olap_scale": 0.1,
        "lookup_orders": 6_000, "lookup_segments": 4,
        "cdc_orders": 4_000, "cdc_segments": 2, "cdc_batch": 200, "cdc_merge": 100,
        "docs": 300, "vectors": 500,
    },
}


@dataclass
class Op:
    kind: str
    run: Callable[[], tuple[Any, list]]  # -> (outcome, DataFrames to read phases from)
    check: Callable[[Any, bool], bool]  # (outcome, corrupt expected?) -> correct?
    account: Callable[[str, list], None] | None = None  # traced runs only: (op id, frames)


@dataclass
class Context:
    spark: Any
    tracer: Any
    seed: int
    sizes: dict
    work: str
    # seconds spent in result checks during setup; excluded from setup_s
    check_s: float = 0.0
    rows: dict = field(default_factory=dict)  # generated rows by table, for the report

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def checked(self, fn: Callable[[], Any]) -> Any:
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.check_s += time.perf_counter() - t


def _duckdb(sf_dir: str, tables: list[str]):
    import duckdb

    from carbondata_spark.catalog import table_path

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(sf_dir, 'duckdb_tmp')}'")
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')")
    return con


def _segment_files(store, table: str) -> list[str]:
    """Parquet files of the table's live segments (layout documented in
    ``carbondata_spark.store``: <table>/Fact/Part0/Segment_<id>/)."""
    out = []
    for seg in store.show_segments(table):
        if seg["status"] != "Success":
            continue
        d = os.path.join(store.store_path, table, "Fact", "Part0", f"Segment_{seg['segment_id']}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


class RegistryShapes:
    """Registry query functions checked once against their DuckDB oracle,
    then against that first, oracle-equal result."""

    def __init__(self, ctx: Context, sf_dir: str, names: list[str], oracle_tables: list[str]):
        from carbondata_spark.queries import registry

        self.ctx, self.sf_dir = ctx, sf_dir
        reg = registry()
        self.queries = {n: reg[n] for n in names}
        self.oracle_tables = oracle_tables
        self.reference: dict[str, Any] = {}

    def warm_up(self) -> None:
        """First (cold) run of every shape; its result must equal the oracle."""
        from carbondata_spark.oracle import compare

        con = self.ctx.checked(lambda: _duckdb(self.sf_dir, self.oracle_tables))
        for name, q in self.queries.items():
            pdf = q.fn(self.ctx.spark, self.sf_dir).toPandas()

            def against_oracle():
                diff = compare(name, pdf, con.execute(q.oracle).fetchdf())
                if not diff.ok:
                    raise AssertionError(f"{name} differs from its oracle: {diff.detail}")

            self.ctx.checked(against_oracle)
            self.reference[name] = pdf
        con.close()

    def op(self, name: str) -> Op:
        from carbondata_spark.oracle import compare

        tracer, q = self.ctx.tracer, self.queries[name]

        def run():
            with tracer.span("query_defs.build"):
                df = q.fn(self.ctx.spark, self.sf_dir)
            with tracer.span("spark.action"):
                return df.toPandas(), [df]

        def check(pdf, corrupt):
            ref = self.reference[name]
            return compare(name, pdf, ref.iloc[:-1] if corrupt else ref).ok

        return Op(name, run, check)


# ---------------------------------------------------------------------------
# olap_scan
# ---------------------------------------------------------------------------


class OlapScan:
    """TPC-H shapes routed through the store, plus sort-key range scans,
    on a star schema ``olap_scale`` times the sf0.1 test set."""

    name = "olap_scan"
    ROUND = OLAP_SHAPES + ["range_scan", "range_scan"]

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "star")
        self.rng = ctx.rng(10)

    def setup(self) -> None:
        self.ctx.rows = gen.write_star(self.sf_dir, self.ctx.seed, self.ctx.sizes["olap_scale"])
        li = pq.read_table(os.path.join(self.sf_dir, "lineitem.parquet"),
                           columns=["l_orderkey", "l_quantity"]).sort_by("l_orderkey")
        self.keys = li["l_orderkey"].to_numpy()
        self.qty_cum = np.concatenate([[0.0], np.cumsum(li["l_quantity"].to_numpy())])
        self.max_key = int(self.keys[-1])
        self.shapes = RegistryShapes(self.ctx, self.sf_dir, OLAP_SHAPES,
                                     ["lineitem", "orders", "customer", "supplier", "nation", "region"])
        # The first shape builds the store-backed fact tables.
        self.shapes.warm_up()
        from carbondata_spark.fact_store import fact_store

        self.store = fact_store(self.ctx.spark, self.sf_dir)
        self.files_total = len(_segment_files(self.store, "lineitem"))
        self.segments = len(self.store.valid_segments("lineitem"))
        _warm_up(self.ctx, [self._range_op()])

    def round(self) -> list[str]:
        return list(self.rng.permutation(self.ROUND))

    def op(self, kind: str) -> Op:
        return self._range_op() if kind == "range_scan" else self.shapes.op(kind)

    def _range_op(self) -> Op:
        from pyspark.sql import functions as F

        # selectivity log-uniform in [0.1 %, 50 %] of the key range
        width = int(self.max_key * 10 ** self.rng.uniform(-3, np.log10(0.5)))
        lo = int(self.rng.integers(0, self.max_key - width + 1))
        hi = lo + width
        tracer = self.ctx.tracer

        def run():
            df = self.store.scan("lineitem", "l_orderkey", ge=lo, le=hi).agg(
                F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty")
            )
            with tracer.span("spark.action"):
                row = df.collect()[0]
            return (row["n"], row["qty"] or 0.0), [df]

        def check(got, corrupt):
            i = np.searchsorted(self.keys, lo, "left")
            j = np.searchsorted(self.keys, hi, "right")
            want = (int(j - i) + int(corrupt), float(self.qty_cum[j] - self.qty_cum[i]))
            return (int(got[0]), float(got[1])) == want

        def account(op_id, frames):
            tracer.count(op_id, "store.files_read", len(frames[0].inputFiles()))
            tracer.count(op_id, "store.files_total", self.files_total)
            tracer.count(op_id, "store.segments", self.segments)

        return Op("range_scan", run, check, account)


def _warm_up(ctx: Context, ops: list[Op]) -> None:
    """Run ``ops`` as part of set-up; their results must be correct."""
    for op in ops:
        out = op.run()[0]
        if not ctx.checked(lambda: op.check(out, False)):
            raise AssertionError(f"warm-up {op.kind}: result differs from the expected one")


# ---------------------------------------------------------------------------
# point_lookup
# ---------------------------------------------------------------------------


class PointLookup:
    """1-3 key lookups on a many-segment orders store with a key bloom,
    through ``CarbonStore.scan(isin=...)`` and as SQL text.

    A round is two ``scan(isin)`` lookups and four SQL lookups of fixed
    sizes, ten keys in all, exactly two of them absent (odd keys inside the
    key range, so only the blooms can rule them out). Present keys are
    drawn Zipf-skewed. With two SQL lookups per ``scan(isin)`` one, the
    median sits inside the SQL latencies and the 90th percentile inside the
    ``scan(isin)`` ones; a half-and-half mix would put the median on the gap
    between the two paths."""

    name = "point_lookup"
    ROUND = [("lookup_isin", 1), ("lookup_isin", 3),
             ("lookup_sql", 1), ("lookup_sql", 2), ("lookup_sql", 2), ("lookup_sql", 1)]
    ABSENT_PER_ROUND = 2
    ZIPF_S = 1.1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = ctx.rng(20)

    def setup(self) -> None:
        from carbondata_spark.sql import CarbonSession
        from carbondata_spark.store import CarbonStore

        ctx, sizes = self.ctx, self.ctx.sizes
        rng = ctx.rng(21)
        orders = gen.orders_table(rng, sizes["lookup_orders"], max(100, sizes["lookup_orders"] // 10))
        ctx.rows = {"orders": orders.num_rows}
        src = os.path.join(ctx.work, "lookup_src")
        os.makedirs(src)
        # Each segment is a batch of random keys, so every segment's key
        # range spans the table and only the bloom filters can prune.
        batch = rng.integers(0, sizes["lookup_segments"], orders.num_rows)
        paths = []
        for b in range(sizes["lookup_segments"]):
            paths.append(os.path.join(src, f"batch_{b}.parquet"))
            pq.write_table(orders.filter(pa.array(batch == b)), paths[-1])
        self.store = CarbonStore(ctx.spark, os.path.join(ctx.work, "lookup_store"))
        schema = ctx.spark.read.parquet(paths[0]).schema
        self.store.create_table("orders", schema, sort_columns=["o_orderkey"],
                                properties={"bloom_columns": "o_orderkey"})
        for p in paths:
            self.store.load("orders", ctx.spark.read.parquet(p))
        self.session = CarbonSession(ctx.spark, self.store)
        self.files_total = len(_segment_files(self.store, "orders"))
        self.rows = {r["o_orderkey"]: tuple(r.values()) for r in orders.to_pylist()}
        self.keys = orders["o_orderkey"].to_numpy()[rng.permutation(orders.num_rows)]
        weights = 1.0 / np.arange(1, len(self.keys) + 1) ** self.ZIPF_S
        self.cdf = np.cumsum(weights) / weights.sum()
        self._planned: list[list[int]] = []
        _warm_up(ctx, [self.op(k) for k in self.round()])

    def round(self) -> list[str]:
        """Kinds in seeded order; their keys are queued for ``op``."""
        order = self.rng.permutation(len(self.ROUND))
        n_keys = sum(n for _, n in self.ROUND)
        absent = set(self.rng.choice(n_keys, self.ABSENT_PER_ROUND, replace=False).tolist())
        keys = [int(self.rng.integers(0, len(self.keys))) * 2 + 1 if i in absent
                else int(self.keys[np.searchsorted(self.cdf, self.rng.random())])
                for i in range(n_keys)]
        self._planned = []
        for i in order:
            n = self.ROUND[i][1]
            self._planned.append(keys[:n])
            keys = keys[n:]
        return [self.ROUND[i][0] for i in order]

    def op(self, kind: str) -> Op:
        tracer, keys = self.ctx.tracer, self._planned.pop(0)

        def run():
            if kind == "lookup_isin":
                df = self.store.scan("orders", "o_orderkey", isin=keys)
            else:
                df = self.session.sql(
                    f"SELECT * FROM orders WHERE o_orderkey IN ({', '.join(map(str, keys))})"
                )
            with tracer.span("spark.action"):
                return df.collect(), [df]

        def check(rows, corrupt):
            want = sorted(self.rows[k] for k in set(keys) if k in self.rows)
            if corrupt:
                want.append(want[0] if want else (None,))
            return sorted(tuple(r) for r in rows) == want

        def account(op_id, frames):
            tracer.count(op_id, f"store.files_read.{kind}", len(frames[0].inputFiles()))
            tracer.count(op_id, f"store.files_total.{kind}", self.files_total)
            tracer.count(op_id, "store.segments", self.ctx.sizes["lookup_segments"])

        return Op(kind, run, check, account)


# ---------------------------------------------------------------------------
# cdc_write
# ---------------------------------------------------------------------------

ROW_HASH_MOD = 2_147_483_629


def row_hashes(t: pa.Table) -> np.ndarray:
    """Per-row hash over every orders column; the Spark twin is
    ``CdcWrite._spark_hash``. Summed, it is an order-independent
    checksum of the table."""
    key = t["o_orderkey"].to_numpy().astype(np.int64)
    cents = np.rint(t["o_totalprice"].to_numpy() * 100).astype(np.int64)
    cust = t["o_custkey"].to_numpy().astype(np.int64)
    days = t["o_orderdate"].cast(pa.int64()).to_numpy() // gen.DAY_US
    status = np.array([ord(s[0]) for s in t["o_orderstatus"].to_pylist()], dtype=np.int64)
    prio = np.array([ord(s[0]) for s in t["o_orderpriority"].to_pylist()], dtype=np.int64)
    return (key * 1_000_003 + cents * 97 + cust * 7_919 + days * 31 + status * 3 + prio) % ROW_HASH_MOD


class CdcWrite:
    """A cycle of writes on an orders store: append, MERGE with clustered
    source keys, UPDATE, MERGE with uniformly spread keys, DELETE, then
    compaction. Every step is checked against a model of the same steps."""

    name = "cdc_write"
    ROUND = ["append", "merge_clustered", "update", "merge_uniform", "delete", "compact"]
    WINDOW_SHARE = 0.02  # key-range share an UPDATE/DELETE predicate covers

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = ctx.rng(30)
        # per-step write accounting, filled by check()
        self.steps: list[dict] = []

    def setup(self) -> None:
        from carbondata_spark.store import CarbonStore

        ctx, sizes = self.ctx, self.ctx.sizes
        self.n_customers = max(100, sizes["cdc_orders"] // 10)
        orders = gen.orders_table(ctx.rng(31), sizes["cdc_orders"], self.n_customers)
        self.src_dir = os.path.join(ctx.work, "cdc_src")
        os.makedirs(self.src_dir)
        self.store = CarbonStore(ctx.spark, os.path.join(ctx.work, "cdc_store"))
        self.table_dir = os.path.join(self.store.store_path, "orders")
        # initial incremental loads, one key range each
        parts = np.array_split(np.arange(orders.num_rows), sizes["cdc_segments"])
        for i, idx in enumerate(parts):
            df = self._source(orders.take(pa.array(idx)))
            if i == 0:
                self.store.create_table("orders", df.schema, sort_columns=["o_orderkey"],
                                        properties={"bloom_columns": "o_orderkey"})
            self.store.load("orders", df)
        ctx.rows = {"orders": orders.num_rows}
        self.model = {r["o_orderkey"]: r for r in orders.to_pylist()}
        self.next_key = int(orders["o_orderkey"].to_numpy().max()) + 2
        self.schema = orders.schema
        if not ctx.checked(lambda: self._verify(False)):
            raise AssertionError("cdc initial load: store differs from the model")

    def _source(self, t: pa.Table):
        path = os.path.join(self.src_dir, f"src_{len(os.listdir(self.src_dir))}.parquet")
        pq.write_table(t, path)
        return self.ctx.spark.read.parquet(path)

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for dirpath, _, files in os.walk(self.table_dir):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def _live_segments(self) -> set[int]:
        return {s["segment_id"] for s in self.store.show_segments("orders") if s["status"] == "Success"}

    def _new_rows(self, keys: np.ndarray) -> list[dict]:
        rng, n = self.rng, len(keys)
        t = gen.orders_table(rng, n, self.n_customers)
        rows = t.to_pylist()
        for r, k in zip(rows, keys.tolist()):
            r["o_orderkey"] = k
        return rows

    def _window(self) -> tuple[int, int]:
        width = int(self.next_key * self.WINDOW_SHARE)
        lo = int(self.rng.integers(0, self.next_key - width))
        return lo, lo + width

    def round(self) -> list[str]:
        return list(self.ROUND)

    def _merge_keys(self, clustered: bool) -> np.ndarray:
        n = self.ctx.sizes["cdc_merge"]
        if clustered:
            lo = int(self.rng.integers(0, max(1, self.next_key - 3 * n)))
            pool = np.arange(lo, lo + 3 * n)
        else:
            pool = np.arange(0, self.next_key)
        # mostly even (present unless deleted) keys, some odd (new) ones
        even, odd = pool[pool % 2 == 0], pool[pool % 2 == 1]
        n_odd = n // 5
        return np.concatenate([self.rng.choice(even, n - n_odd, replace=False),
                               self.rng.choice(odd, n_odd, replace=False)])

    def op(self, kind: str) -> Op:
        """One step; its expectation is taken from the model as it stands
        after every earlier step, and the write accounting starts here."""
        store = self.store
        expect: dict[str, Any] = {}
        self._before = (self._files(), self._live_segments())
        if kind == "append":
            keys = self.next_key + 2 * np.arange(self.ctx.sizes["cdc_batch"])
            self.next_key = int(keys[-1]) + 2
            rows = self._new_rows(keys)
            df = self._source(pa.Table.from_pylist(rows, self.schema))
            run_step = lambda: store.load("orders", df)  # noqa: E731
            expect["changed"] = len(rows)
            expect["apply"] = lambda m: m.update({r["o_orderkey"]: r for r in rows})
            expect["result"] = None
        elif kind.startswith("merge"):
            rows = self._new_rows(self._merge_keys(kind == "merge_clustered"))
            df = self._source(pa.Table.from_pylist(rows, self.schema))
            run_step = lambda: store.merge_rows("orders", df, keys="o_orderkey")  # noqa: E731
            updated = sum(r["o_orderkey"] in self.model for r in rows)
            expect["changed"] = len(rows)
            expect["apply"] = lambda m: m.update({r["o_orderkey"]: r for r in rows})
            expect["result"] = {"updated": updated, "inserted": len(rows) - updated}
        elif kind == "update":
            lo, hi = self._window()
            hit = [k for k in self.model if lo <= k <= hi]
            run_step = lambda: store.update_rows(  # noqa: E731
                "orders", f"o_orderkey BETWEEN {lo} AND {hi}",
                {"o_totalprice": "o_totalprice + 1", "o_orderstatus": "'F'"},
            )

            def apply(m, hit=hit):
                for k in hit:
                    m[k] = dict(m[k], o_totalprice=m[k]["o_totalprice"] + 1, o_orderstatus="F")

            expect.update(changed=len(hit), apply=apply, result=len(hit))
        elif kind == "delete":
            lo, hi = self._window()
            hit = [k for k, r in self.model.items() if lo <= k <= hi and r["o_orderstatus"] == "P"]
            run_step = lambda: store.delete_rows(  # noqa: E731
                "orders", f"o_orderkey BETWEEN {lo} AND {hi} AND o_orderstatus = 'P'"
            )

            def apply(m, hit=hit):
                for k in hit:
                    del m[k]

            expect.update(changed=len(hit), apply=apply, result=len(hit))
        else:  # compact, then drop the retired segments' files

            def run_step():
                store.compact("orders")
                store.clean_files("orders", stale_in_progress_s=0.0)

            expect.update(changed=0, apply=lambda m: None, result=None)

        def run():
            return run_step(), []

        def check(result, corrupt):
            expect["apply"](self.model)
            self._account(kind, expect["changed"])
            ok = expect["result"] is None or result == expect["result"]
            return self._verify(corrupt) and ok

        return Op(kind, run, check)

    def _account(self, kind: str, changed: int) -> None:
        files_before, live_before = self._before
        files = self._files()
        live = self._live_segments()
        live_dirs = tuple(
            os.path.join(self.table_dir, "Fact", "Part0", f"Segment_{s}") + os.sep for s in live
        )
        written = {p: v[0] for p, v in files.items() if files_before.get(p) != v}
        self.steps.append({
            "kind": kind,
            "rows_changed": changed,
            "bytes_written": sum(written.values()),
            "bytes_discarded": sum(b for p, b in written.items()
                                   if "/Fact/" in p and not p.startswith(live_dirs)),
            "segments_considered": len(live_before),
            "segments_rewritten": len(live_before - live),
        })

    def _verify(self, corrupt: bool) -> bool:
        """Row count and order-independent checksum, store vs model."""
        from pyspark.sql import functions as F

        row = self.store.table("orders").agg(
            F.count(F.lit(1)).alias("n"), F.sum(self._spark_hash()).alias("h")
        ).collect()[0]
        rows = list(self.model.values())
        want_h = int(row_hashes(pa.Table.from_pylist(rows, self.schema)).sum()) if rows else None
        return (row["n"], row["h"]) == (len(rows) + int(corrupt), want_h)

    @staticmethod
    def _spark_hash():
        from pyspark.sql import functions as F

        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        days = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("bigint")
        h = (F.col("o_orderkey") * 1_000_003 + cents * 97 + F.col("o_custkey") * 7_919 + days * 31
             + F.ascii("o_orderstatus").cast("bigint") * 3 + F.ascii("o_orderpriority").cast("bigint"))
        return F.pmod(h, F.lit(ROW_HASH_MOD))

    def write_metrics(self, samples: list[tuple[str, float, str]]) -> dict[str, float]:
        """Write-path metrics of the run: per-step means, the per-kind
        MERGE figures, and the amplification ratios. ``space_amp`` loads
        the final rows once more into a fresh single-segment table for its
        denominator."""
        out = {}
        steps = self.steps
        for key in ("bytes_written", "bytes_discarded", "segments_considered", "segments_rewritten"):
            out[f"store.{key}"] = float(np.mean([s[key] for s in steps]))
        out["store.segments"] = out["store.segments_considered"]
        for kind in ("merge_clustered", "merge_uniform"):
            for key in ("bytes_discarded", "segments_rewritten"):
                out[f"store.{key}_{kind}"] = float(np.mean([s[key] for s in steps if s["kind"] == kind]))
        loads = [lat for kind, lat, _ in samples if kind == "append"]
        out["store.load_rows_per_s"] = self.ctx.sizes["cdc_batch"] * len(loads) / sum(loads)
        out["store.merge_p50_s"] = float(np.median([lat for kind, lat, _ in samples
                                                    if kind.startswith("merge")]))

        from carbondata_spark.store import CarbonStore

        fresh = CarbonStore(self.ctx.spark, os.path.join(self.ctx.work, "cdc_fresh"))
        final = self.store.table("orders")
        fresh.create_table("orders", final.schema, sort_columns=["o_orderkey"],
                           properties={"bloom_columns": "o_orderkey"})
        fresh.load("orders", final)
        fresh_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(os.path.join(fresh.store_path, "orders")) for f in fs)
        per_row = fresh_bytes / max(1, len(self.model))
        on_disk = sum(v[0] for v in self._files().values())
        written = sum(s["bytes_written"] for s in self.steps)
        changed = sum(s["rows_changed"] for s in self.steps)
        out["store.write_amp"] = written / max(1.0, changed * per_row)
        out["store.space_amp"] = on_disk / fresh_bytes
        return out


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup:
    """One corpus operator pipeline per operation, from the registry rows
    that wrap them; the store is not involved."""

    name = "corpus_dedup"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "corpus")
        self.rng = ctx.rng(40)

    def setup(self) -> None:
        s = self.ctx.sizes
        self.ctx.rows = gen.write_corpus(self.sf_dir, self.ctx.seed, s["docs"], s["vectors"])
        self.shapes = RegistryShapes(self.ctx, self.sf_dir, CORPUS_SHAPES, ["documents", "embeddings"])
        self.shapes.warm_up()

    def round(self) -> list[str]:
        return list(self.rng.permutation(CORPUS_SHAPES))

    def op(self, kind: str) -> Op:
        return self.shapes.op(kind)


WORKLOADS = {w.name: w for w in (OlapScan, PointLookup, CdcWrite, CorpusDedup)}
