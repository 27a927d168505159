"""Named invariants for the last r6 additions (RBO, NMI, basket
rules)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_t95_rbo_monotone_and_bounded(spark):
    from ai_iceberg_demo_spark.functions.retrieval import t95_rank_biased_overlap

    out = t95_rank_biased_overlap(spark, SF_DIR).toPandas().sort_values("depth")
    assert (out.rbo_min.diff().dropna() >= -1e-12).all(), "RBO bound accumulates"
    assert ((out.agreement_at_d >= 0) & (out.agreement_at_d <= 1)).all()
    assert ((out.rbo_min >= 0) & (out.rbo_min <= 1)).all()
    # prefix intersections can grow by at most 2 per depth step
    assert (out.n_common.diff().dropna() <= 2).all()


def test_v34_nmi_identities(spark):
    from ai_iceberg_demo_spark.vector.clustering import v34_cluster_label_nmi

    r = v34_cluster_label_nmi(spark, SF_DIR).toPandas().iloc[0]
    assert 0 <= r.nmi <= 1
    assert r.mutual_information <= min(r.h_clusters, r.h_labels) + 1e-9
    assert abs(
        r.nmi - r.mutual_information / ((r.h_clusters + r.h_labels) / 2)
    ) < 1e-4


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


def test_d27_detection_degrades_with_shingle_size(spark):
    from ai_iceberg_demo_spark.vector.dedup import d27_shingle_sensitivity

    out = d27_shingle_sensitivity(spark, SF_DIR).toPandas().sort_values("shingle_n")
    assert (out.mean_jaccard.diff().dropna() <= 1e-9).all(), (
        "larger shingles must not raise Jaccard under a fixed mutation"
    )
    assert out.n_pairs.nunique() == 1  # same planted pairs at every n
    assert (out.n_detected <= out.n_pairs).all()


def test_g7_assortativity_is_a_correlation(spark):
    from ai_iceberg_demo_spark.operators.graph import g7_degree_assortativity

    r = g7_degree_assortativity(spark, SF_DIR).toPandas().iloc[0]
    assert -1.0 <= r.assortativity <= 1.0
    assert r.n_edges > 0
    assert bool(r.neutral_as_expected)


def test_d28_counts_are_consistent(spark):
    from ai_iceberg_demo_spark.vector.dedup import d28_transitivity_audit

    r = d28_transitivity_audit(spark, SF_DIR).toPandas().iloc[0]
    assert r.n_closed <= r.n_paths2
    assert abs(
        r.violation_rate - (1 - r.n_closed / r.n_paths2 if r.n_paths2 else 0)
    ) < 1e-3
    assert r.n_edges >= 0 and r.n_paths2 >= 0


def test_t96_novelty_decays_and_first_slice_is_mostly_new(spark):
    from ai_iceberg_demo_spark.functions.text import t96_ngram_novelty

    out = t96_ngram_novelty(spark, SF_DIR).toPandas().sort_values("ingest_decile")
    assert out.novelty_rate.iloc[0] > 0.9, "first ingest slice is mostly novel"
    assert out.novelty_rate.iloc[-1] < out.novelty_rate.iloc[0]
    # broad decay: each decile's rate below the first slice's
    assert (out.novelty_rate.iloc[1:] < out.novelty_rate.iloc[0]).all()
    assert ((out.novelty_rate >= 0) & (out.novelty_rate <= 1)).all()
