"""Named invariants for the last r6 additions (band join, PSI, PRF,
UDTF, feature-store TTL, experiment card)."""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_DIR


def test_j11_matches_brute_force_pair_count(spark):
    """The bucket+neighbor equi-join finds EXACTLY the pairs the O(n²)
    brute force finds — an independent pandas spelling."""
    from ai_iceberg_demo_spark.operators.joins import _J11_EPS, j11_band_join

    got = j11_band_join(spark, SF_DIR).toPandas().iloc[0]
    prices = sorted(
        pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
        .l_extendedprice.astype(float)
        .round(2)
        .unique()
    )
    brute = 0
    for i, a in enumerate(prices):
        for b in prices[i + 1 :]:
            if b - a > _J11_EPS:
                break
            brute += 1
    assert got.n_pairs == brute
    assert bool(got.all_within_band)


def test_t85_expansion_excludes_base_terms_and_ranks_descend(spark):
    from ai_iceberg_demo_spark.functions.retrieval import (
        QUERY_TERMS,
        t85_prf_expansion,
    )

    out = t85_prf_expansion(spark, SF_DIR).toPandas()
    exp = set(out.expansion_terms.iloc[0].split(","))
    assert exp.isdisjoint(set(QUERY_TERMS))
    assert len(exp) == 3
    assert (out.score.diff().dropna() <= 1e-9).all()


def test_x6_udtf_rowcount_matches_explode_arithmetic(spark):
    from ai_iceberg_demo_spark.functions.udf_surface import x6_python_udtf
    from ai_iceberg_demo_spark.tables import load_table

    out = x6_python_udtf(spark, SF_DIR).toPandas()
    docs = load_table(spark, "documents", SF_DIR).toPandas()
    expect = sum(
        -(-len(t.split(" ")) // 16) for t in docs.text  # ceil(len/16)
    )
    assert len(out) == expect
    assert (out.n_tokens <= 16).all()


def test_t89_ttl_is_enforced_and_age_null_iff_no_prior(spark):
    from ai_iceberg_demo_spark.streaming.events import (
        _T89_TTL_S,
        t89_feature_store_join,
    )

    out = t89_feature_store_join(spark, SF_DIR).toPandas()
    fresh = out[out.feature_value.notna()]
    assert (fresh.feature_age_s <= _T89_TTL_S).all()
    stale = out[out.is_stale]
    assert (stale.feature_age_s > _T89_TTL_S).all()
    assert stale.feature_value.isna().all()
    no_prior = out[out.feature_age_s.isna()]
    assert (~no_prior.is_stale).all() and no_prior.feature_value.isna().all()
