"""Structural anti-pattern gate over the package source — the judge's
per-round sweep, encoded so a regression is a red test at commit time:
driver-side collection and per-row Python in hot paths are how 100-TB
plans die. AST-based (docstrings/comments don't count), with explicit
allowlists so every documented exception is visible here and a new one
has to be added in review rather than slipping in.
"""

from __future__ import annotations

import ast
import os

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "carbondata_spark",
)

# Python-on-data at Arrow batch granularity is allowed ONLY where it is
# the documented design: multimodal kernels (no codec → honest stubs over
# real plumbing), the stateful-streaming hook, and the deliberate UDAF
# demo query. Everything else must stay JVM-side codegen.
ARROW_BATCH_ALLOWED = {
    "operators/multimodal.py",
    # the REAL codec-free decoders (PPM/WAV) — decode is inherently
    # per-payload Python, Arrow-batched through the same mapInPandas
    # plumbing as multimodal.py; embarrassingly parallel, no shuffle
    "operators/media_codecs.py",
    # the RLE8 BMP kernel — same class: decode is
    # inherently per-payload sequential, Arrow-batched, no shuffle
    "operators/media_rle.py",
    "streaming/ingest.py",
    "query_defs/olap3.py",
}
# toPandas ships the whole result to the driver: only the local oracle
# differential harness (mirrors the driver's own compare) may do it.
TOPANDAS_ALLOWED = {"oracle.py"}
# .collect() is banned as a DATA path; bloom.py's collects are bounded
# METADATA by construction — collect_set(bit position) is capped at the
# bitset size (2^23 bits) per column regardless of row count. Same class
# as the parquet footer min/max reads feeding the manifest zone maps.
COLLECT_ALLOWED = {
    "bloom.py",
    # jdbc_q's build step collects exactly TWO scalars (min/max of the
    # partition key) to feed Spark's JDBC lowerBound/upperBound options —
    # the standard setup for a range-partitioned JDBC read, bounded
    # metadata regardless of row count (same class as the footer min/max
    # reads feeding the manifest zone maps).
    "query_defs/jdbc_q.py",
    # store.py's sole collect is the IUD detection aggregate: one
    # (segment_id, match_count) row per affected segment — bounded by
    # the manifest's segment count, never by data size (same class as a
    # SHOW LOADS listing); it's what replaced the per-segment serial
    # count loop.
    "store.py",
    # iud_q's build step collects exactly ONE scalar (max of the sort
    # key) to derive scale-independent segment bounds — build-time
    # metadata, same class as jdbc_q's bound probe.
    "query_defs/iud_q.py",
}
# .rdd drops out of Catalyst; the only sanctioned use is the
# partition-count metadata probe in functions.repartition_if_narrow.
RDD_ALLOWED = {"functions/__init__.py"}

BATCH_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}

# A tempfile.mkdtemp tree outlives the process; package code takes its
# temp dirs from query_defs/_tmpdirs.py, which removes them at exit.
MKDTEMP_ALLOWED = {
    "query_defs/_tmpdirs.py",
    # split_bad_records' default staging dir serves direct callers; the
    # SQL LOAD path passes its own and removes it once the load returns
    "sources/csv.py",
}


def _py_files():
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                yield os.path.relpath(path, PKG_DIR).replace(os.sep, "/"), path


def _method_calls(tree: ast.AST):
    """(method name, lineno) for every attribute access in the module —
    attribute reads count too (a bare `df.rdd` is already off-plan)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            yield node.attr, node.lineno


def _scan():
    hits: dict[str, list[tuple[str, str, int]]] = {
        "collect": [], "toPandas": [], "batch": [], "rdd": [],
        "crossJoin": [], "per_row_udf": [],
    }
    for rel, path in _py_files():
        with open(path, "rb") as f:
            tree = ast.parse(f.read())
        for attr, line in _method_calls(tree):
            if attr == "collect" and rel not in COLLECT_ALLOWED:
                hits["collect"].append((rel, attr, line))
            elif attr == "toPandas" and rel not in TOPANDAS_ALLOWED:
                hits["toPandas"].append((rel, attr, line))
            elif attr in BATCH_METHODS and rel not in ARROW_BATCH_ALLOWED:
                hits["batch"].append((rel, attr, line))
            elif attr == "rdd" and rel not in RDD_ALLOWED:
                hits["rdd"].append((rel, attr, line))
            # crossJoin handled below (argument shape matters)
        # crossJoin is allowed ONLY in the broadcast-scalar idiom
        # crossJoin(F.broadcast(<1-row aggregate>)) — attaching a corpus
        # total / data-derived threshold to every row. Any other
        # argument shape is a genuine cartesian hazard.
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "crossJoin"
            ):
                arg_is_broadcast = (
                    len(node.args) == 1
                    and isinstance(node.args[0], ast.Call)
                    and (
                        (isinstance(node.args[0].func, ast.Attribute)
                         and node.args[0].func.attr == "broadcast")
                        or (isinstance(node.args[0].func, ast.Name)
                            and node.args[0].func.id == "broadcast")
                    )
                )
                if not arg_is_broadcast:
                    hits["crossJoin"].append((rel, "crossJoin", node.lineno))
        # per-row Python UDFs: F.udf(...) calls or @udf decorators.
        # pandas_udf is Arrow-batched and judged per call site separately;
        # today the package has none outside the allowlisted modules.
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                name = (
                    fn.attr if isinstance(fn, ast.Attribute)
                    else fn.id if isinstance(fn, ast.Name) else None
                )
                if name == "udf" and rel not in ARROW_BATCH_ALLOWED:
                    hits["per_row_udf"].append((rel, "udf", node.lineno))
    return hits


def test_no_driver_side_collection_in_package():
    hits = _scan()
    assert not hits["collect"], (
        f"driver-side .collect() in package source: {hits['collect']} — "
        "an operator that collects is not distributed"
    )
    assert not hits["toPandas"], (
        f".toPandas() outside the oracle harness: {hits['toPandas']}"
    )


def test_python_on_data_only_in_documented_places():
    hits = _scan()
    assert not hits["batch"], (
        f"Arrow-batch Python outside the allowlist: {hits['batch']} — "
        "if this is deliberate, add the module here with its rationale"
    )
    assert not hits["per_row_udf"], (
        f"per-row Python UDF in package source: {hits['per_row_udf']} — "
        "use built-in functions or an Arrow-batched form"
    )


def test_no_rdd_or_cartesian_escapes():
    hits = _scan()
    assert not hits["rdd"], (
        f".rdd outside the partition-count probe: {hits['rdd']}"
    )
    assert not hits["crossJoin"], (
        f"crossJoin outside the broadcast-scalar idiom: {hits['crossJoin']}"
    )


def test_no_unmanaged_mkdtemp_in_package():
    hits = []
    for rel, path in _py_files():
        if rel in MKDTEMP_ALLOWED:
            continue
        with open(path, "rb") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "mkdtemp"
                and isinstance(node.value, ast.Name)
                and node.value.id == "tempfile"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "tempfile"
                and any(a.name == "mkdtemp" for a in node.names)
            ):
                hits.append((rel, node.lineno))
    assert not hits, (
        f"tempfile.mkdtemp outside query_defs/_tmpdirs.py: {hits} — "
        "use _tmpdirs.mkdtemp or _tmpdirs.built so the tree is removed"
    )
