"""Ordering and set operators (operators/ordering_sets.py): properties
beyond the oracle hash."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_o8_partitions_cover_everything_and_skew_is_the_max(spark):
    from ai_iceberg_demo_spark.operators.ordering_sets import (
        _O8_PARTS,
        o8_range_partitioner_audit,
    )
    from ai_iceberg_demo_spark.tables import load_table

    out = o8_range_partitioner_audit(spark, SF_DIR).toPandas()
    assert len(out) == _O8_PARTS
    total = load_table(spark, "lineitem", SF_DIR).count()
    assert out.n.sum() == total  # no row lost or double-bucketed
    assert abs(out.max_skew.iloc[0] - out.vs_ideal.max()) < 1e-9
