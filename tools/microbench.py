"""Quick single-query timing for optimization iteration (NOT the judge's
bench — bench.py stays the protocol). Warms up once, then reports the
min/median of N collect() timings with cache cleared between runs.

Usage: python tools/microbench.py name [name ...] [--n 5]
Bench-local forms (q_store_merge_cdc / q_olap100_wide_agg) are wired in.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--") and not a.isdigit()]
    n = 5
    for a in sys.argv[1:]:
        if a.startswith("--n"):
            n = int(a.split("=")[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench as B
    from carbondata_spark.queries import registry
    from carbondata_spark.session import get_spark

    spark = get_spark(app_name="carbondata_spark_microbench")
    reg = registry()
    fns = {name: q.fn for name, q in reg.items()}
    fns["q_store_merge_cdc"] = B._merge_cdc_form
    if "q_olap100_sum_measure" in reg:  # registered only with its fixture
        fns["q_olap100_wide_agg"] = reg["q_olap100_sum_measure"].fn
    setup = {"q_store_merge_cdc": B._merge_cdc_prepare}

    for name in args:
        fn = fns[name]
        if name in setup:
            setup[name](spark, sf_dir)
        fn(spark, sf_dir).collect()  # warmup
        ts = []
        for _ in range(n):
            spark.catalog.clearCache()
            if name in setup:
                setup[name](spark, sf_dir)
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            ts.append(time.perf_counter() - t0)
        print(
            f"{name}: min={min(ts):.3f} med={statistics.median(ts):.3f} "
            f"all={[round(t, 3) for t in ts]}"
        )


if __name__ == "__main__":
    main()
