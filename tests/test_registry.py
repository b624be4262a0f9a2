"""Registry contract: ``load_all()`` imports every operator module and
returns the registry in registration order."""

from __future__ import annotations

from pg2parquet_spark.registry import REGISTRY, load_all


def test_load_all_returns_registration_order():
    reg = load_all()
    assert list(reg) == list(REGISTRY)
    assert len(reg) == 217
    assert all(reg[name] is REGISTRY[name] for name in reg)
