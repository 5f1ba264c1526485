"""Exhaustive crash-point sweep over the store's commit protocol.

r16/r17 pinned HAND-PICKED crash points (after the 2nd promotion
rename, mid merge-insert, reader-side during GC). This sweep closes
the gap between those samples and the protocol's actual claim — that a
crash at ANY driver-side file-promotion or manifest step leaves the
table atomically at exactly the pre- or post-mutation state, never a
mix, with clean_files GC'ing the debris and an identical retry
converging to the post state.

Method: run each mutation once with COUNTING wrappers around
``os.rename`` / ``os.replace`` (the only two driver-side commit
primitives — data files are written by Spark executors, but
visibility is flipped exclusively by these calls against the table
directory) to enumerate the fault sites, then re-run the mutation on a
fresh copy of the pre-state store once PER site, injecting an OSError
at that call with staging cleanup suppressed (a real crash runs no
``finally``). Reference analogue: the retry/cleanup contract of
CarbonDataRDDFactory.scala:527-558 (failed loads clean only their own
artifacts) combined with the one-timestamp commit of
tablestatus-swapping (CarbonLoaderUtil recordLoadMetadata semantics).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import carbondata_spark.store as store_mod
from carbondata_spark.store import CarbonStore

N_SEGS = 3
ROWS_PER_SEG = 40


def _build(spark, root):
    store = CarbonStore(spark, str(root))
    df = spark.range(0, ROWS_PER_SEG * N_SEGS).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    store.create_table("t", df.schema, sort_columns=["k"])
    for i in range(N_SEGS):
        store.load(
            "t",
            df.filter(
                (F.col("k") >= i * ROWS_PER_SEG)
                & (F.col("k") < (i + 1) * ROWS_PER_SEG)
            ),
        )
    return store


def _state(spark, root):
    """Observable table state through a FRESH reader: full contents plus
    the valid segment-id set (compact/merge change ids even when rows
    don't)."""
    store = CarbonStore(spark, str(root))
    rows = sorted(tuple(r) for r in store.table("t").collect())
    segs = sorted(e.segment_id for e in store.valid_segments("t"))
    return rows, segs


def _mutations(spark):
    """(name, fn(store)) pairs — each idempotent, so a post-crash retry
    must converge to the same post state."""

    def upd(store):
        store.update_rows("t", "v % 16 = 0", {"v": "-1"})

    def dlt(store):
        store.delete_rows("t", "v % 16 = 0")

    def mrg(store):
        # 20 matched keys (update path) + 10 unmatched (insert path)
        src = spark.range(0, 20).select(
            (F.col("id") * 3).alias("k"), F.lit(-7).cast("long").alias("v")
        ).unionByName(
            spark.range(200, 210).select(
                F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")
            )
        )
        store.merge_rows("t", src, keys="k")

    def cmp_(store):
        store.compact("t")

    def ld(store):
        # only the final manifest swap publishes the segment, so a crash
        # at any earlier call leaves the pre state and a retry appends once
        store.load("t", spark.range(500, 510).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ))

    return [
        ("update", upd),
        ("delete", dlt),
        ("merge", mrg),
        ("compact", cmp_),
        ("load", ld),
    ]


def _is_commit_call(root, src, dst) -> bool:
    """ONE predicate for both site enumeration and crash injection —
    if they ever diverged (e.g. a replace whose src is under the root
    but dst is not), the injected crash index would silently shift
    against the enumerated site list and the sweep would test the
    wrong sites (r17 driver advice)."""
    return str(root) in str(src) or str(root) in str(dst)


def _count_sites(root, store, fn):
    """Enumerate driver-side commit calls (rename/replace touching the
    table root) during one clean mutation run."""
    sites: list[tuple[str, str]] = []
    real_rename, real_replace = os.rename, os.replace

    def rename(src, dst, *a, **kw):
        if _is_commit_call(root, src, dst):
            sites.append(("rename", str(dst)))
        return real_rename(src, dst, *a, **kw)

    def replace(src, dst, *a, **kw):
        if _is_commit_call(root, src, dst):
            sites.append(("replace", str(dst)))
        return real_replace(src, dst, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", rename)
        mp.setattr(os, "replace", replace)
        fn(store)
    return sites


def _crash_at(root, store, fn, n):
    """Re-run ``fn`` crashing at the n-th commit call (1-based); staging
    rmtree is suppressed so the debris of a real crash stays on disk."""
    calls = {"n": 0}
    real_rename, real_replace = os.rename, os.replace
    real_rmtree = store_mod.shutil.rmtree

    def tick(kind, src, dst):
        if _is_commit_call(root, src, dst):  # SAME predicate as _count_sites
            calls["n"] += 1
            if calls["n"] == n:
                raise OSError(28, f"injected crash at commit call {n}")

    def rename(src, dst, *a, **kw):
        tick("rename", src, dst)
        return real_rename(src, dst, *a, **kw)

    def replace(src, dst, *a, **kw):
        tick("replace", src, dst)
        return real_replace(src, dst, *a, **kw)

    def rmtree(path, *a, **kw):
        if ".rewrite_staging_" in str(path) or ".compact_staging" in str(path):
            return None
        return real_rmtree(path, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", rename)
        mp.setattr(os, "replace", replace)
        mp.setattr(store_mod.shutil, "rmtree", rmtree)
        with pytest.raises(OSError, match="injected crash"):
            fn(store)


@pytest.mark.parametrize("op_name", ["update", "delete", "merge", "compact", "load"])
def test_crash_at_every_commit_call_is_atomic(spark, tmp_path, op_name):
    fn = dict(_mutations(spark))[op_name]

    base = tmp_path / "base"
    _build(spark, base)
    pre = _state(spark, base)

    clean = tmp_path / "clean"
    shutil.copytree(base, clean)
    sites = _count_sites(clean, CarbonStore(spark, str(clean)), fn)
    post = _state(spark, clean)
    assert post != pre, "mutation must be observable for the sweep to mean anything"
    assert sites, "no commit calls enumerated — instrumentation broke"

    for n in range(1, len(sites) + 1):
        root = tmp_path / f"crash_{n}"
        shutil.copytree(base, root)
        store = CarbonStore(spark, str(root))
        _crash_at(root, store, fn, n)

        observed = _state(spark, root)
        assert observed in (pre, post), (
            f"{op_name}: crash at call {n}/{len(sites)} "
            f"({sites[n - 1]}) left a MIXED state"
        )

        # GC must not change the observable state...
        CarbonStore(spark, str(root)).clean_files("t", stale_in_progress_s=0)
        assert _state(spark, root) == observed, (
            f"{op_name}: clean_files after crash at call {n} changed the table"
        )
        # ...and an identical retry must converge to the post state
        fn(CarbonStore(spark, str(root)))
        retried = _state(spark, root)
        assert retried[0] == post[0], (
            f"{op_name}: retry after crash at call {n} lost/garbled rows"
        )
