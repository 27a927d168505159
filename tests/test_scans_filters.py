"""Scan, layout and data-quality operators (the storage trio s16, s18,
s19 and their card): invariants the oracle hash can't see."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_s18_clustered_layout_skips_and_is_lossless(spark):
    from ai_iceberg_demo_spark.operators.scans_filters import s18_zonemap_audit

    out = s18_zonemap_audit(spark, SF_DIR).toPandas().set_index("layout")
    assert out.loc["clustered_orderkey", "skip_rate"] > 0.5
    assert out.loc["unclustered_shipdate", "skip_rate"] == 0.0
    assert out.skipping_is_lossless.all()


def test_s19_verdicts_follow_their_own_metrics(spark):
    from ai_iceberg_demo_spark.operators.scans_filters import (
        _S19_DICT_MAX_RATIO,
        _S19_RLE_MIN_RUN,
        s19_encoding_advisor,
    )

    out = s19_encoding_advisor(spark, SF_DIR).toPandas()
    for _, r in out.iterrows():
        if r.distinct_ratio < _S19_DICT_MAX_RATIO and r.avg_run_len >= _S19_RLE_MIN_RUN:
            assert r.encoding == "rle_dict", r.col
        elif r.distinct_ratio < _S19_DICT_MAX_RATIO:
            assert r.encoding == "dict", r.col
        else:
            assert r.encoding == "plain", r.col
    by = out.set_index("col")
    assert by.loc["l_orderkey", "avg_run_len"] > 2, "orderkey runs exist"
    assert by.loc["l_returnflag", "encoding"] == "dict"


def test_pipeline_storage_card_covers_the_trio(spark):
    from ai_iceberg_demo_spark.pipeline.curation import pipeline_storage

    out = pipeline_storage(spark, SF_DIR).toPandas()
    fams = out.family.value_counts().to_dict()
    assert fams["zone_maps"] == 2 and fams["encodings"] == 4
    assert fams["partitioning"] >= 2
    zm = out[out.family == "zone_maps"].set_index("item")
    assert zm.loc["clustered_orderkey", "verdict"] == "prunes"
    assert zm.loc["unclustered_shipdate", "verdict"] == "sort_or_zorder"
