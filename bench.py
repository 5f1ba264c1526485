"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is fully executed (collect) but results are discarded; a warmup
run of the first query initializes the JVM/session so timings measure the
engine, not startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _q01_double_form(spark, sf_dir):
    """q01 with naive double sums — NOT in the registry (its rounding is
    margin-fragile at scale, see query_defs/olap.py:62). Benched alongside
    the exact two-phase form so the price of driver-proof exactness is a
    tracked number per round, not a remembered one."""
    from pyspark.sql import functions as F

    from carbondata_spark.fact_store import fact_table
    from carbondata_spark.functions import dround

    li = fact_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            dround(F.sum(disc_price), 2).alias("sum_disc_price"),
            dround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            dround(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q01_single_decimal_form(spark, sf_dir):
    """q01 as ONE aggregate over decimal(20,0) micro-units (dsum/davg) —
    NOT in the registry. The r5 verdict asked whether dropping the
    two-phase form's `_pid` fan-out wins; the fan-out-free LONG variant
    it sketched is unsound at target scale (the final merge still sums
    longs: group totals pass 9.2e12 currency units at ~4e11 rows), so
    the honest single-exchange candidate is the decimal accumulator —
    bit-identical by construction (tests/test_rounding_properties.py
    pins it on the q01 shape). Benched as a paired premium so the
    two-phase choice stays a measured number."""
    from pyspark.sql import functions as F

    from carbondata_spark.fact_store import fact_table
    from carbondata_spark.functions import davg, dsum

    li = fact_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q03_raw_parquet_form(spark, sf_dir):
    """q03 reading raw parquet directly — NOT in the registry (the
    registry form routes facts through the compacted CarbonStore segment
    scan, fact_store.py). Benched alongside so the store layer's routing
    premium vs stock Spark-on-Parquet is a tracked number (BASELINE.md's
    practical baseline)."""
    from pyspark.sql import functions as F

    from carbondata_spark.catalog import load_table
    from carbondata_spark.functions import dround

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_CDC_BASE: dict[str, str] = {}  # sf_dir -> pre-built base store path
_CDC_FRESH: list[str] = []  # store copies staged OUTSIDE the timed window


def _merge_cdc_prepare(spark, sf_dir):
    """Per-iteration setup for q_store_merge_cdc, run BEFORE the timer
    starts (r16: the ~0.2 s driver-side shutil copy of the base store
    was ~7% of the r15 headline and would mask real CDC-path drift)."""
    import shutil as _shutil

    from carbondata_spark.query_defs._tmpdirs import mkdtemp

    _ensure_cdc_base(spark, sf_dir)
    fresh = mkdtemp(prefix="carbondata_benchcdc_run_")
    _shutil.rmtree(fresh)
    _shutil.copytree(_CDC_BASE[sf_dir], fresh)
    _CDC_FRESH.append(fresh)


def _ensure_cdc_base(spark, sf_dir):
    from pyspark.sql import functions as F

    from carbondata_spark.catalog import load_table
    from carbondata_spark.query_defs._tmpdirs import mkdtemp
    from carbondata_spark.store import CarbonStore

    if sf_dir not in _CDC_BASE:
        orders = load_table(spark, sf_dir, "orders")
        base = mkdtemp(prefix="carbondata_benchcdc_base_")
        st = CarbonStore(spark, base)
        st.create_table("ord", orders.schema, sort_columns=["o_orderkey"])
        st.load("ord", orders.filter(F.col("o_orderkey") % 2 == 0))
        st.load("ord", orders.filter(F.col("o_orderkey") % 2 == 1))
        _CDC_BASE[sf_dir] = base


def _merge_cdc_form(spark, sf_dir):
    """A FULL MERGE INTO cycle per measurement (r15 headline): the
    registry's q_store_merge caches its build, so its steady-state
    timing is only the merged-table read — this form runs merge_rows
    (zone-map candidate prune → one semi-join detection job →
    per-source-segment rewrite in one job → insert segment → atomic
    swap) against a freshly copied two-segment orders store each time,
    so drift in the CDC path itself is a measured number per round. The
    store copy itself happens in _merge_cdc_prepare OUTSIDE the timed
    window (r16 rebaseline)."""
    from pyspark.sql import functions as F

    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    orders = load_table(spark, sf_dir, "orders")
    if not _CDC_FRESH:  # warmup / standalone call: stage a copy inline
        _merge_cdc_prepare(spark, sf_dir)
    store = CarbonStore(spark, _CDC_FRESH.pop())
    hits = orders.filter(F.col("o_orderkey") % 10 == 3)
    bumped = hits.withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    source = bumped.unionByName(
        bumped.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(20_000_000))
    )
    store.merge_rows("ord", source, keys="o_orderkey")
    return store.table("ord").agg(F.count("*").alias("n"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from carbondata_spark.queries import registry
    from carbondata_spark.session import get_spark

    spark = get_spark(app_name="carbondata_spark_bench")

    reg = registry()
    # r15 additions to the headline metric: the 67-column corpus cube's
    # front-door aggregate (wide rows + string-dim coercion — a shape no
    # other headline covers; the cube build itself happens in warmup and
    # steady-state times the parser→store-scan→agg path) and the full
    # CDC merge cycle above.
    extra_fns = {"q_store_merge_cdc": _merge_cdc_form}
    if "q_olap100_sum_measure" in reg:  # registered only with its fixture
        extra_fns["q_olap100_wide_agg"] = reg["q_olap100_sum_measure"].fn
    fns = {n: q.fn for n, q in sorted(reg.items()) if q.headline}
    fns.update(extra_fns)
    names = sorted(fns)

    # warmup pass: JVM/codegen/JIT + OS page cache + one-time store
    # builds. The steady-state passes below measure engine throughput,
    # not first-query JIT (the reference perf harness does the same:
    # first-run time reported separately from the avg of later runs,
    # PerfTest.scala:274-287).
    for name in names:
        fns[name](spark, sf_dir).collect()

    # Each query is timed in THREE full interleaved passes and the
    # per-query MIN reported. Rationale: (a) queries that persist
    # intermediates
    # (e.g. the LSH shingle index) leave cached blocks behind, and
    # accumulated blocks from earlier queries cause eviction churn that
    # can inflate a later query 5× run-to-run — clearCache() between
    # measurements isolates each query (within a measurement, persists
    # still count: the query pays for its own caching, just not its
    # predecessors'); (b) the sandbox shows multi-second host slowdown
    # BURSTS (same code, 0.8s vs 8.8s) — interleaving the passes means a
    # burst must span the whole suite repeatedly to contaminate every
    # measurement of one query, so the min is a burst-free estimate of
    # engine throughput (three passes after r4 showed a single burst can
    # still straddle both measurements of an early query: minhash 1.5s
    # engine floor recorded as 3.1s).
    # per-iteration setup hooks run BEFORE the timer (store copies and
    # other harness plumbing are not engine throughput)
    setup = {"q_store_merge_cdc": _merge_cdc_prepare}
    timings: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(3):
        for name in names:
            spark.catalog.clearCache()
            if name in setup:
                setup[name](spark, sf_dir)
            t0 = time.perf_counter()
            fns[name](spark, sf_dir).collect()
            timings[name] = min(timings[name], time.perf_counter() - t0)
    timings = {n: round(v, 3) for n, v in timings.items()}

    # aux (outside the fixed 12-query headline metric): alternate forms,
    # pinning what each registry-default choice costs. q01's double-sum
    # form prices driver-proof exact money aggregation; the xxhash64
    # minhash form prices md5's cross-engine replayability (the oracle
    # can reproduce md5 banding bit-for-bit, xxhash64 it cannot —
    # operators/dedup.py); q03's raw-parquet form prices the CarbonStore
    # segment routing vs stock Spark-on-Parquet.
    #
    # Premiums are PAIRED: each pass measures the alternate form and its
    # registry counterpart back-to-back and the premium is the MEDIAN of
    # five per-pass deltas. Subtracting two mins measured minutes apart
    # (the r5 protocol) let a host slowdown burst land on one side only —
    # BENCH_r05 reported a 0.69 s q01 premium whose quiet-host floor is
    # 0.39 s. Adjacent measurements ride the same host weather, so each
    # per-pass delta is burst-consistent; the median (not min: min of
    # signed deltas is biased toward whichever pass favored the registry
    # side, and flipped sign run-to-run when the true premium is small)
    # discards passes where a burst straddled the pair boundary.
    def _minhash_xxhash64(spark, sf_dir):
        from carbondata_spark.catalog import load_table
        from carbondata_spark.operators.dedup import minhash_lsh_pairs

        docs = load_table(spark, sf_dir, "documents")
        return minhash_lsh_pairs(docs, threshold=0.5, hash_fn="xxhash64")

    def _bloom_unpruned_form(spark, sf_dir):
        """q_store_bloom_pruned's point lookup WITHOUT manifest pruning —
        table().filter(isin) reads all four residue segments where the
        registry form's scan(isin) bloom-prunes to the two that can hold
        the keys. delta = registry(pruned) - unpruned: NEGATIVE is the
        measured saving of the manifest bloom on a needle-in-haystack
        read (the fraction read scales with segment count at 100 TB)."""
        from pyspark.sql import functions as F

        from carbondata_spark.functions import dround
        from carbondata_spark.query_defs.store_q import _bloom_store

        store = _bloom_store(spark, sf_dir)
        return (
            store.table("orders_r")
            .filter(F.col("o_orderkey").isin([1, 6, 4242]))
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_orderpriority",
                dround(F.col("o_totalprice"), 2).alias("totalprice"),
            )
            .orderBy("o_orderkey")
        )

    # (aux alt name, alt fn, registry counterpart, premium name)
    pairs = [
        ("q01_double_form", _q01_double_form, "q01_pricing_summary",
         "q01_exactness_premium"),
        # delta = registry(two-phase) - single-decimal: NEGATIVE means
        # the two-phase form is faster and earns its extra code
        ("q01_single_decimal_form", _q01_single_decimal_form,
         "q01_pricing_summary", "q01_two_phase_vs_single_decimal"),
        ("minhash_xxhash64_form", _minhash_xxhash64, "p_dedup_minhash_lsh",
         "minhash_md5_portability_premium"),
        ("q03_raw_parquet_form", _q03_raw_parquet_form, "q03_shipping_priority",
         "q03_store_routing_premium"),
        ("bloom_unpruned_form", _bloom_unpruned_form, "q_store_bloom_pruned",
         "bloom_point_lookup_saving"),
    ]
    for _, fn, *_rest in pairs:
        fn(spark, sf_dir).collect()  # warmup: codegen/JIT, page cache
    aux_t = {n: float("inf") for n, *_ in pairs}
    deltas: dict[str, list[float]] = {p: [] for *_, p in pairs}
    for _ in range(5):
        for alt_name, alt_fn, reg_name, prem_name in pairs:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            alt_fn(spark, sf_dir).collect()
            t_alt = time.perf_counter() - t0
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            reg[reg_name].fn(spark, sf_dir).collect()
            t_reg = time.perf_counter() - t0
            aux_t[alt_name] = min(aux_t[alt_name], t_alt)
            deltas[prem_name].append(t_reg - t_alt)
    # Each premium ships with its per-pass delta SPREAD (max-min): a
    # premium smaller than its spread is noise-bounded on this host and
    # should be read as "~0 at current measurement power", not as a
    # signed result (back-to-back validation runs showed the minhash
    # premium flipping sign at median-of-5 while q01/q03 held within
    # ~0.1 s absolute).
    median = lambda xs: sorted(xs)[len(xs) // 2]
    aux = {
        **{n: round(v, 3) for n, v in aux_t.items()},
        **{p: round(median(v), 3) for p, v in deltas.items()},
        **{
            f"{p}_spread": round(max(v) - min(v), 3)
            for p, v in deltas.items()
        },
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "aux": aux,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
