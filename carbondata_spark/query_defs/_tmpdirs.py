"""Process-lifetime temp directories and the build-once registry fixtures
that live in them.

Registry rows and the headline fact tables read fixtures (stores,
format dumps, JDBC databases) that cost a Spark job or more to build.
``built`` builds each one once per (name, sf_dir, Spark app), the way
the reference suites build a cube in ``beforeAll``, and hands it a
fresh directory from ``mkdtemp``. Every such directory is removed at
interpreter exit, the ``afterAll`` half: by then the JVM is either
stopped or no longer reading them, so a plain rmtree is safe.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Any, Callable, TypeVar

T = TypeVar("T")

_DIRS: list[str] = []
_BUILT: dict[tuple[str, str | None, str], Any] = {}


def mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` that is rmtree'd at process exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append(path)
    return path


def built(spark, name: str, build: Callable[[str], T], sf_dir: str | None = None) -> T:
    """``build(dir)``, run once per (name, sf_dir, Spark app).

    ``dir`` is a fresh ``carbondata_<name>_*`` directory removed at exit.
    A build that raises is not cached, so the next call builds again.
    """
    key = (name, sf_dir, spark.sparkContext.applicationId)
    if key not in _BUILT:
        _BUILT[key] = build(mkdtemp(prefix=f"carbondata_{name}_"))
    return _BUILT[key]


@atexit.register
def _cleanup() -> None:
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)
