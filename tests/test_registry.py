"""Registry order and registration rules behind the driver contract."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from carbondata_spark.queries import _REGISTRY, register, registry


def test_queries_order_is_headline_first_then_registration_order():
    reg = registry()
    registered = list(_REGISTRY)  # insertion order == registration order
    headline = [n for n in registered if _REGISTRY[n].headline]
    rest = [n for n in registered if not _REGISTRY[n].headline]
    assert headline and rest

    assert list(reg) == headline + rest
    assert list(entry.queries()) == headline + rest
    assert list(entry.oracle_sql()) == [n for n in reg if reg[n].oracle is not None]


def test_register_rejects_a_duplicate_name():
    name = "q_registry_duplicate_probe"
    try:
        register(name, oracle=None)(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match="already registered"):
            register(name, oracle=None)(lambda spark, sf_dir: None)
    finally:
        _REGISTRY.pop(name, None)
