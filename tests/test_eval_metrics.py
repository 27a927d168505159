"""Named invariants for the r6 eval/survival/bitemporal operators —
the property each one must hold BEYOND hashing its DuckDB oracle
(tests/test_queries_oracle.py covers the hash)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF_DIR}/events.parquet")


def test_t65_auc_matches_independent_rank_derivation(spark, events_pdf):
    """The two-phase sharded Mann-Whitney equals a straight pandas
    midrank computation — an INDEPENDENT spelling, not the oracle's."""
    from ai_iceberg_demo_spark.streaming.events import t65_roc_auc

    got = t65_roc_auc(spark, SF_DIR).toPandas().iloc[0]
    ev = events_pdf[events_pdf.value.notna()]
    pos = ev.event_type.isin(["click", "purchase", "signup"]).astype(int)
    ranks = ev.value.rank(method="average")  # midranks, ties averaged
    np_, nn = int(pos.sum()), int((1 - pos).sum())
    r_pos = float(ranks[pos == 1].sum())
    auc = (r_pos - np_ * (np_ + 1) / 2.0) / (np_ * nn)
    assert got["n_pos"] == np_ and got["n_neg"] == nn
    assert abs(got["auc"] - round(auc, 6)) < 1e-9
    assert 0.0 <= got["auc"] <= 1.0


def test_t63_survival_is_monotone_nonincreasing_from_one(spark):
    from ai_iceberg_demo_spark.streaming.events import t63_kaplan_meier

    km = t63_kaplan_meier(spark, SF_DIR).toPandas()
    assert (km.survival <= 1.0 + 1e-9).all()
    assert (km.survival.diff().dropna() <= 1e-9).all(), "S(t) must not rise"
    # risk set shrinks as durations pass
    assert (km.n_risk.diff().dropna() < 0).all()


def test_t66_transition_matrix_is_row_stochastic(spark):
    from ai_iceberg_demo_spark.streaming.events import t66_markov_transitions

    tm = t66_markov_transitions(spark, SF_DIR).toPandas()
    sums = tm.groupby("cur_type").prob.sum()
    assert ((sums - 1.0).abs() < 1e-4).all(), sums.to_dict()
    # every observed type transitions somewhere (5x5 fixture matrix)
    assert tm.cur_type.nunique() == tm.next_type.nunique() == 5


def test_t64_ece_is_the_weighted_gap_and_brier_bounded(spark):
    from ai_iceberg_demo_spark.streaming.events import t64_calibration_bins

    cb = t64_calibration_bins(spark, SF_DIR).toPandas()
    ece = float((cb.n * cb.gap.abs()).sum() / cb.n.sum())
    assert abs(cb.ece.iloc[0] - ece) < 5e-6  # self-consistent across rows
    assert 0.0 <= cb.brier.iloc[0] <= 1.0
    assert cb.bin.is_monotonic_increasing


def test_v32_ceiling_bounds_recall_and_adc_nondegenerate(spark):
    """The pruning ceiling is an upper bound on realized recall by
    construction, and the residual codebook fix keeps ADC > 0 (the
    first-16 seeding bug made every ADC exactly 0)."""
    from ai_iceberg_demo_spark.vector.similarity import v32_ivf_pq

    out = v32_ivf_pq(spark, SF_DIR).toPandas()
    per_probe = out.groupby("probe_id").first()
    assert (per_probe.recall5 <= per_probe.ceiling5 + 1e-9).all()
    assert (out.adc > 0).all(), "zero ADC = the degenerate-codebook bug"
    assert (out.n_candidates < 500).all(), "pruning must drop cells"


def test_m16_restatement_delta_is_exactly_the_correction(spark):
    """Corrected keys restate by exactly +50 (the +150 correction over
    the +100 original update); batch-1-only keys are unchanged."""
    from ai_iceberg_demo_spark.operators.mutations import m16_bitemporal

    bt = m16_bitemporal(spark, SF_DIR).toPandas()
    restated = bt[bt.restated]
    control = bt[~bt.restated]
    assert len(restated) > 0 and len(control) > 0
    assert (restated.c_custkey % 20 == 0).all()
    delta = (restated.believed_now - restated.believed_then).round(2)
    assert (delta == 50.0).all()
    assert (control.believed_now == control.believed_then).all()


def test_t71_posting_rows_reconstruct_document_lengths(spark):
    """Summing tf over a doc's postings recovers the doc's token count
    under the SAME tokenizer — the index is lossless on frequencies."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.functions.retrieval import t71_inverted_index
    from ai_iceberg_demo_spark.functions.text import lexical_terms
    from ai_iceberg_demo_spark.tables import load_table

    idx = (
        t71_inverted_index(spark, SF_DIR)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl_idx"))
    )
    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", F.size(lexical_terms(F.col("text"))).cast("bigint").alias("dl")
    )
    diff = idx.join(docs, "doc_id").filter(F.col("dl_idx") != F.col("dl"))
    assert diff.count() == 0
