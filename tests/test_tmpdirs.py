"""Process-lifetime temp-dir registry and build-once fixtures
(query_defs/_tmpdirs.py): every fixture is built once per key, and no
tree it writes outlives the process."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _app(app_id: str = "app-1"):
    """The one thing ``built`` reads off a SparkSession."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_mkdtemp_registers_and_cleanup_removes(monkeypatch):
    from carbondata_spark.query_defs import _tmpdirs

    # isolate from the suite's own live fixtures: _cleanup drains the
    # module-global list, and the real one holds store trees other tests
    # still read through built()
    monkeypatch.setattr(_tmpdirs, "_DIRS", [])
    a = _tmpdirs.mkdtemp(prefix="carbondata_tmpdirs_test_")
    b = _tmpdirs.mkdtemp(prefix="carbondata_tmpdirs_test_")
    with open(os.path.join(b, "x"), "w") as f:
        f.write("payload")  # non-empty trees must go too
    assert os.path.isdir(a) and os.path.isdir(b)
    assert _tmpdirs._DIRS == [a, b]
    _tmpdirs._cleanup()
    assert not os.path.exists(a) and not os.path.exists(b)
    assert _tmpdirs._DIRS == []


def test_cleanup_survives_already_removed_dirs(monkeypatch):
    import shutil

    from carbondata_spark.query_defs import _tmpdirs

    monkeypatch.setattr(_tmpdirs, "_DIRS", [])
    a = _tmpdirs.mkdtemp(prefix="carbondata_tmpdirs_test_")
    shutil.rmtree(a)  # someone cleaned up early — exit must not raise
    _tmpdirs._cleanup()
    assert _tmpdirs._DIRS == []


def test_cleanup_fires_at_interpreter_exit():
    """End-to-end: a fresh interpreter that mkdtemp's through the
    registry and exits normally must leave no directory behind — this is
    the atexit wiring itself, not just _cleanup's body."""
    code = (
        "from carbondata_spark.query_defs import _tmpdirs\n"
        "print(_tmpdirs.mkdtemp(prefix='carbondata_tmpdirs_exit_'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith("/") and "carbondata_tmpdirs_exit_" in path
    assert not os.path.exists(path)


def test_built_runs_once_per_key(monkeypatch):
    from carbondata_spark.query_defs import _tmpdirs

    monkeypatch.setattr(_tmpdirs, "_DIRS", [])
    monkeypatch.setattr(_tmpdirs, "_BUILT", {})
    calls = []

    def build(d):
        calls.append(d)
        return object()

    first = _tmpdirs.built(_app(), "tmpdirs_test", build, "sf_a")
    assert _tmpdirs.built(_app(), "tmpdirs_test", build, "sf_a") is first
    assert len(calls) == 1
    assert os.path.basename(calls[0]).startswith("carbondata_tmpdirs_test_")
    assert _tmpdirs._DIRS == calls
    _tmpdirs._cleanup()
    assert not os.path.exists(calls[0])


def test_built_rebuilds_for_new_sf_dir_name_or_app(monkeypatch):
    from carbondata_spark.query_defs import _tmpdirs

    monkeypatch.setattr(_tmpdirs, "_DIRS", [])
    monkeypatch.setattr(_tmpdirs, "_BUILT", {})
    keys = [
        (_app(), "tmpdirs_test", "sf_a"),
        (_app(), "tmpdirs_test", "sf_b"),
        (_app(), "tmpdirs_other", "sf_a"),
        (_app("app-2"), "tmpdirs_test", "sf_a"),
        (_app(), "tmpdirs_test", None),
    ]
    dirs = [_tmpdirs.built(spark, name, lambda d: d, sf) for spark, name, sf in keys]
    assert len(set(dirs)) == len(keys)
    # every key is now cached: asking again returns the same directories
    assert [_tmpdirs.built(s, n, lambda d: "rebuilt", sf) for s, n, sf in keys] == dirs
    _tmpdirs._cleanup()
    assert not any(os.path.exists(d) for d in dirs)


def test_built_does_not_cache_a_failed_build(monkeypatch):
    from carbondata_spark.query_defs import _tmpdirs

    monkeypatch.setattr(_tmpdirs, "_DIRS", [])
    monkeypatch.setattr(_tmpdirs, "_BUILT", {})
    seen = []

    def failing(d):
        seen.append(d)
        with open(os.path.join(d, "partial"), "w") as f:
            f.write("half-written")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        _tmpdirs.built(_app(), "tmpdirs_test", failing, "sf_a")
    assert _tmpdirs._BUILT == {}
    # the next call builds again, in a fresh directory
    ok = _tmpdirs.built(_app(), "tmpdirs_test", lambda d: d, "sf_a")
    assert ok != seen[0]
    assert _tmpdirs._DIRS == [seen[0], ok]
    _tmpdirs._cleanup()
    assert not os.path.exists(seen[0]) and not os.path.exists(ok)


def test_fact_store_leaves_no_tree_after_exit(tmp_path, sf_dir):
    """A fresh interpreter that builds the fact store and exits leaves
    no ``carbondata_facts_*`` directory under its TMPDIR."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    code = (
        "from carbondata_spark.fact_store import fact_store\n"
        "from carbondata_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        f"store = fact_store(spark, {sf!r})\n"
        "assert store.table('orders').count() > 0\n"
        "print(store.store_path)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(path) == str(tmp_path), path
    assert os.path.basename(path).startswith("carbondata_facts_"), path
    assert not list(tmp_path.glob("carbondata_facts_*"))
