"""Named invariants for the late-r6 operators (sketches, causal,
graph, features, chunking, privacy, LM scoring) — properties
beyond the oracle hash, which tests/test_queries_oracle.py covers."""

from __future__ import annotations

import math

from tests.conftest import SF_DIR


def test_a22_kmv_error_within_sketch_bound(spark):
    """KMV Jaccard error is bounded by a few sketch standard errors —
    the k=64 sketch must behave like one, not like noise."""
    from ai_iceberg_demo_spark.operators.aggregates import _KMV_K, a22_kmv_overlap

    out = a22_kmv_overlap(spark, SF_DIR).toPandas()
    assert len(out) == 10  # C(5,2) type pairs
    for _, r in out.iterrows():
        se = math.sqrt(max(r.exact_jaccard * (1 - r.exact_jaccard), 0.01) / _KMV_K)
        assert r.abs_err <= 4 * se, (r.type_a, r.type_b, r.abs_err, se)


def test_t74_did_recovers_planted_effect_where_naive_does_not(spark):
    from ai_iceberg_demo_spark.streaming.events import t74_diff_in_diff

    r = t74_diff_in_diff(spark, SF_DIR).toPandas().iloc[0]
    assert bool(r.recovered)
    did_err = abs(r.did_estimate - r.planted_effect)
    naive_err = abs(r.naive_post_gap - r.planted_effect)
    assert did_err < naive_err, "DiD must beat the naive post-only gap"


def test_g6_output_is_the_two_recommendation_lists(spark):
    from ai_iceberg_demo_spark.operators.graph import (
        _G6_SEED_MOD,
        g6_personalized_pagerank,
    )

    out = g6_personalized_pagerank(spark, SF_DIR).toPandas()
    assert out.kind.value_counts().to_dict() == {
        "lookalike_customer": 10,
        "supplier": 10,
    }
    assert (out["rank"] > 0).all()
    custs = out[out.kind == "lookalike_customer"].node.str.lstrip("c").astype(int)
    assert (custs % _G6_SEED_MOD != 0).all(), "seeds must not appear"


def test_t75_ma7_excludes_today(spark):
    """The trailing mean at row i must equal the mean of the PREVIOUS
    7 targets — including today's y is the target-leakage bug."""
    from ai_iceberg_demo_spark.streaming.events import t75_forecast_features

    out = t75_forecast_features(spark, SF_DIR).toPandas().sort_values("day")
    ys = out.y.tolist()
    for i in range(len(out)):
        ma7 = out.ma7.iloc[i]
        if i < 7:
            assert ma7 is None or (isinstance(ma7, float) and math.isnan(ma7))
        else:
            expect = round(sum(ys[i - 7 : i]) / 7.0, 4)
            assert abs(ma7 - expect) < 1e-9


def test_a23_estimates_sit_inside_their_fences(spark):
    from ai_iceberg_demo_spark.operators.aggregates import a23_robust_means

    out = a23_robust_means(spark, SF_DIR).toPandas()
    assert (out.fence_lo < out.fence_hi).all()
    assert ((out.trimmed_mean >= out.fence_lo) & (out.trimmed_mean <= out.fence_hi)).all()
    assert ((out.winsorized_mean >= out.fence_lo) & (out.winsorized_mean <= out.fence_hi)).all()


def test_f47_chunks_cover_every_token_within_budget(spark):
    from ai_iceberg_demo_spark.functions.text import (
        _F47_CHUNK_TOKENS,
        _F47_STRIDE,
        f47_token_chunks,
    )
    from ai_iceberg_demo_spark.tables import load_table

    out = f47_token_chunks(spark, SF_DIR).toPandas()
    assert (out.n_tokens <= _F47_CHUNK_TOKENS).all()
    docs = load_table(spark, "documents", SF_DIR).toPandas()
    lens = dict(zip(docs.doc_id, docs.text.str.split(" ").map(len)))
    for doc_id, grp in out.groupby("doc_id"):
        covered = set()
        for _, r in grp.iterrows():
            start = r.chunk_idx * _F47_STRIDE
            covered.update(range(start, start + r.n_tokens))
        assert covered == set(range(lens[doc_id])), doc_id


def test_m17_release_is_clamped_rounding_of_true_plus_noise(spark):
    from ai_iceberg_demo_spark.operators.mutations import m17_dp_release

    out = m17_dp_release(spark, SF_DIR).toPandas()
    assert len(out) == 5
    for _, r in out.iterrows():
        assert r.released_count == max(0, round(r.true_count + r.noise))
        # Laplace(1/eps=1) noise: |noise| beyond ~15 has prob < 3e-7
        assert abs(r.noise) < 15


def test_u38_higher_temperature_flattens_the_mixture(spark):
    from ai_iceberg_demo_spark.operators.sampling import u38_temperature_resample

    out = u38_temperature_resample(spark, SF_DIR).toPandas()
    var_by_t = out.groupby("temp").p.var().sort_index()
    assert var_by_t.is_monotonic_decreasing, var_by_t.to_dict()
    sums = out.groupby("temp").p.sum()
    assert ((sums - 1.0).abs() < 1e-4).all()


def test_t70_jsd_is_bounded_and_positive(spark):
    from ai_iceberg_demo_spark.functions.text import t70_js_divergence

    out = t70_js_divergence(spark, SF_DIR).toPandas()
    assert len(out) == 190  # C(20,2) source pairs
    assert ((out.jsd_normalized >= 0) & (out.jsd_normalized <= 1)).all()
    assert (out.jsd > 0).all(), "distinct sources must diverge"
