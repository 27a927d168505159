"""Aggregate operators (operators/aggregates.py): properties beyond
the oracle hash."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_a24_lift_and_confidence_are_consistent(spark):
    from ai_iceberg_demo_spark.operators.aggregates import (
        _A24_MIN_SUPPORT,
        a24_market_basket,
    )

    out = a24_market_basket(spark, SF_DIR).toPandas()
    assert len(out) > 0, "rules must exist at the fixture support level"
    assert (out.support >= _A24_MIN_SUPPORT).all()
    assert ((out.confidence_a_to_b > 0) & (out.confidence_a_to_b <= 1)).all()
    assert (out.lift > 1).all(), "top-by-lift pairs must beat independence"
    assert (out.part_a < out.part_b).all()
