"""Oracle-diff every registered query on a HOSTILE session.

The driver runs queries()[name] on ITS OWN SparkSession — any timezone,
none of our pinned confs — so `ensure_session_confs` must re-pin what
matters on every query entry. The suite spot-checks that for the most
TZ-sensitive queries (tests/test_correctness.py::HOSTILE_TZ_QUERIES);
this tool sweeps EVERY registry() row from a fresh process on an
America/New_York session, mirroring the driver's conditions.

Usage: python tools/hostile_sweep.py [sf_dir]   (default sf0.01)
Exit 0 iff every query matches its oracle.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession

    from carbondata_spark.oracle import duckdb_connection, run_query_diff
    from carbondata_spark.queries import registry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = list(registry())
    print(f"sweeping {len(names)} queries at {sf_dir}", flush=True)

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )
    # getOrCreate can silently hand back a pre-existing same-process
    # session whose confs (including the hostile timezone) were set
    # differently — which would quietly weaken the "fresh hostile
    # session" guarantee this tool exists to provide. Refuse to sweep on
    # a session that is not actually hostile.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "America/New_York":
        print(
            f"FATAL: session timezone is {tz!r}, not the hostile "
            "America/New_York — getOrCreate reused an existing session; "
            "run this tool in its own process"
        )
        spark.stop()
        return 2
    con = duckdb_connection(sf_dir)
    bad: list[str] = []
    try:
        for i, name in enumerate(names):
            try:
                r = run_query_diff(spark, con, sf_dir, name)
                status = "ok" if r.ok else f"FAIL {r.detail[:200]}"
                ok = r.ok
            except Exception as e:  # noqa: BLE001 — report, keep sweeping
                status, ok = f"ERROR {type(e).__name__}: {e}", False
            if not ok:
                bad.append(name)
            print(f"[{i + 1:3d}/{len(names)}] {name}: {status}", flush=True)
    finally:
        spark.stop()
    print("RESULT:", "ALL GREEN" if not bad else f"RED: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
