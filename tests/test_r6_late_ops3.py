"""Named invariants for the final r6 batch (shrinkage, uplift, lift
chart, mutual kNN, corpus diff, kNN probe, rolling corr, masking)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_t90_shrinkage_pulls_toward_prior_and_orders_by_volume(spark):
    from ai_iceberg_demo_spark.streaming.events import t90_eb_shrinkage

    out = t90_eb_shrinkage(spark, SF_DIR).toPandas()
    # shrunk always lies between the raw rate and the prior mean
    prior_mean = (out.n_purchases.sum()) / (out.n_events.sum())
    lo = out[["raw_rate"]].copy()
    between = (
        ((out.shrunk_rate - out.raw_rate) * (prior_mean - out.raw_rate)) >= -1e-9
    )
    assert between.all(), "shrinkage must move toward the prior"
    # extremes shrink more than typical users on average
    extremes = out[(out.raw_rate == 0) | (out.raw_rate == 1)]
    if len(extremes):
        assert extremes.pull.mean() >= out.pull.mean()


def test_t91_localizes_the_planted_segment_at_gate_sf(spark):
    from ai_iceberg_demo_spark.streaming.events import t91_uplift_by_segment

    out = t91_uplift_by_segment(spark, "/root/testdata/sf0.01").toPandas()
    sig = out[out.significant_uplift]
    assert len(sig) == 1 and bool(sig.effect_planted_here.iloc[0])


def test_t92_gain_monotone_and_lift_hits_prevalence_bound(spark):
    from ai_iceberg_demo_spark.streaming.events import t92_lift_chart

    out = t92_lift_chart(spark, SF_DIR).toPandas().sort_values("decile")
    assert (out.cum_gain.diff().dropna() >= -1e-9).all()
    assert abs(out.cum_gain.iloc[-1] - 1.0) < 1e-9
    assert abs(out.cum_lift.iloc[-1] - 1.0) < 1e-9
    prevalence = out.n_pos.sum() / out.n.sum()
    assert (out.cum_lift <= 1.0 / prevalence + 1e-6).all()


def test_d26_mutual_pairs_are_a_subset_of_the_graph_both_ways(spark):
    from ai_iceberg_demo_spark.vector.similarity import (
        d26_mutual_knn,
        v18b_knn_graph_det,
    )

    pairs = d26_mutual_knn(spark, SF_DIR).toPandas()
    graph = v18b_knn_graph_det(spark, SF_DIR).toPandas()
    edges = set(zip(graph.src, graph.dst))
    for _, r in pairs.iterrows():
        assert (r.vec_a, r.vec_b) in edges and (r.vec_b, r.vec_a) in edges
    assert (pairs.vec_a < pairs.vec_b).all()


def test_u40_diff_classes_match_the_plants(spark):
    from ai_iceberg_demo_spark.operators.sampling import u40_corpus_version_diff
    from ai_iceberg_demo_spark.tables import load_table

    out = (
        u40_corpus_version_diff(spark, SF_DIR).toPandas().set_index("status")
    )
    docs = load_table(spark, "documents", SF_DIR).toPandas()
    n_removed = int((docs.doc_id % 7 == 3).sum())
    n_modified = int(((docs.doc_id % 7 != 3) & (docs.doc_id % 11 == 5)).sum())
    assert out.loc["removed", "n_docs"] == n_removed
    assert out.loc["modified", "n_docs"] == n_modified
    assert "added" not in out.index  # v2 adds nothing in this plant
    assert abs(out.share.sum() - 1.0) < 1e-6


def test_v33_accuracy_bounded_and_covers_all_classes(spark):
    from ai_iceberg_demo_spark.vector.similarity import v33_knn_classifier

    out = v33_knn_classifier(spark, SF_DIR).toPandas()
    assert ((out.knn_accuracy >= 0) & (out.knn_accuracy <= 1)).all()
    assert out.n.sum() > 0 and out.label.nunique() == len(out)


def test_w12_r7_null_before_seven_days_and_bounded(spark):
    from ai_iceberg_demo_spark.operators.windows import w12_rolling_correlation

    out = w12_rolling_correlation(spark, SF_DIR).toPandas().sort_values("day")
    assert out.r7.iloc[:6].isna().all()
    filled = out.r7.dropna()
    assert ((filled >= -1.0 - 1e-9) & (filled <= 1.0 + 1e-9)).all()


def test_m18_masking_audit_verdicts(spark):
    from ai_iceberg_demo_spark.operators.mutations import m18_column_masking

    out = m18_column_masking(spark, SF_DIR).toPandas().set_index("col")
    assert out.joinable.all() and out.no_leaks.all()
    assert bool(out.loc["c_mktsegment", "freq_attack_risk"])
    assert not bool(out.loc["c_name", "freq_attack_risk"])
