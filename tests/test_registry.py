"""The registry's pinned order; none of these start a JVM."""
from __future__ import annotations

import hashlib

import pytest

from realtime_data_warehouse_spark.plans.registry import (
    ORACLE_SQL,
    ORDER,
    QUERIES,
    TIERS,
    pin_order,
)

#: sha256 of the first 202 registry names, newline-joined. The driver
#: gate reads a prefix of this order, so no existing name may move;
#: new entries append after position 201.
_FIRST_202_SHA256 = (
    "800f48798b2b3204dc24a17b159355ad0da484557b2508e7463a0948694f3549")


def test_registry_order_is_pinned():
    names = list(QUERIES)
    assert names == list(ORDER)
    digest = hashlib.sha256("\n".join(names[:202]).encode()).hexdigest()
    assert digest == _FIRST_202_SHA256
    assert list(ORACLE_SQL) == [n for n in names if n in ORACLE_SQL]
    assert list(TIERS) == names


def test_pin_order_rejects_names_out_of_sync():
    registered = {"a": 1, "b": 2}
    with pytest.raises(RuntimeError, match="not in ORDER \\['b'\\]"):
        pin_order(("a",), dict(registered))
    with pytest.raises(RuntimeError, match="not registered \\['c'\\]"):
        pin_order(("a", "b", "c"), dict(registered))
    with pytest.raises(RuntimeError, match="1 duplicate"):
        pin_order(("a", "b", "a"), dict(registered))


def test_pin_order_rekeys_in_place():
    queries, oracles = {"a": 1, "b": 2}, {"a": "sql"}
    pin_order(("b", "a"), queries, oracles)
    assert list(queries) == ["b", "a"]
    assert oracles == {"a": "sql"}
