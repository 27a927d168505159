"""Event review operators (streaming/events.py) and the cards built on
them: the semantics the hash oracle can't see — planted drift, the
shared forecast split, and that each card builds its substrate once
and agrees with its parts."""

from __future__ import annotations

import datetime
import math

import numpy as np
import pyspark.sql.functions as F

from ai_iceberg_demo_spark.pipeline import curation
from ai_iceberg_demo_spark.streaming import events
from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR


def test_t78_intervals_are_symmetric_and_coverage_is_their_mean(spark):
    out = events.t78_conformal_forecast(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert ((out.lo < out.yhat) & (out.yhat < out.hi)).all()
    width = (out.hi - out.lo).round(4)
    assert width.nunique() == 1, "one conformal quantile -> one width"
    assert abs(out.realized_coverage.iloc[0] - out.covered.mean()) < 1e-6


def test_t79_fit_beats_persistence_and_is_finite(spark):
    r = events.t79_ols_forecast(spark, SF_DIR).toPandas().iloc[0]
    assert bool(r.beats_naive)
    assert r.mae_ols < r.mae_naive
    for c in ("beta_lag1", "beta_ma7", "intercept"):
        assert math.isfinite(r[c])


def test_forecast_split_is_t78s_calibration_and_t79s_training_days(spark):
    """One split serves both forecasters: its fit days are the first
    ⌈60%⌉ of the feature days with ma7 defined (t78's calibration
    days), every one of them also has lag1 (so t79's oracle, which
    also asks for lag1, trains on the same rows), and t78 reports
    exactly the remaining days."""
    feats = events.t75_forecast_features(spark, SF_DIR).toPandas()
    days = feats[feats.ma7.notna()].sort_values("day")
    assert days.lag1.notna().all()
    n_fit_expected = math.ceil(0.6 * len(days))

    split, n_fit = events.forecast_split(events.daily_feature_frame(spark, SF_DIR))
    got = split.toPandas().sort_values("day")
    assert n_fit == n_fit_expected == int(got.is_fit.sum())
    assert list(got.day) == list(days.day)
    assert list(got[got.is_fit].day) == list(days.day[:n_fit_expected])
    t78_days = events.t78_conformal_forecast(spark, SF_DIR).toPandas().day
    assert list(t78_days) == list(got[~got.is_fit].day)


def test_forecast_card_runs_one_eager_count(spark, monkeypatch):
    """The card builds the feature frame and its split once: building
    the DataFrame runs the split's one count, not one per part (calling
    t78 and t79 ran three)."""
    calls = []
    cls = type(spark.range(1))
    count = cls.count

    def counting(df):
        calls.append(1)
        return count(df)

    monkeypatch.setattr(cls, "count", counting)
    curation.pipeline_forecast(spark, SF_DIR)
    assert len(calls) == 1


def test_pipeline_forecast_card_matches_its_parts(spark):
    card = curation.pipeline_forecast(spark, SF_DIR).toPandas().set_index(
        ["family", "metric"]
    )
    t78 = events.t78_conformal_forecast(spark, SF_DIR).toPandas()
    assert card.loc[("uncertainty", "realized_coverage"), "value"] == (
        t78.realized_coverage.iloc[0]
    )
    assert card.loc[("uncertainty", "n_test_days"), "value"] == len(t78)


def test_t80_verdict_is_consistent_and_rates_are_proportions(spark):
    out = events.t80_power_analysis(spark, SF_DIR).toPandas()
    # the verdict IS the comparison (no drift between columns)
    assert (
        out.adequately_powered
        == (out.n_per_arm_current >= out.n_per_arm_required)
    ).all()
    assert (out.target_rate > out.baseline_rate).all()
    assert (out.target_rate <= 0.999).all(), "p1 must stay a proportion"


def test_pipeline_experiment_has_the_three_families(spark):
    out = curation.pipeline_experiment(spark, SF_DIR).toPandas()
    assert out.family.value_counts().to_dict() == {
        "design": 3,
        "readout": 4,
        "causal": 4,
    }
    # composition consistency: the card's recovered flag is t74's
    assert out.set_index(["family", "metric"]).loc[
        ("causal", "recovered"), "value"
    ] == 1.0


def test_t84_planted_type_is_the_argmax_psi(spark):
    out = events.t84_psi_drift(spark, SF_DIR).toPandas()
    assert out.loc[out.psi.idxmax(), "event_type"] == "error"
    assert out[out.event_type == "error"].verdict.iloc[0] == "act"


def test_t113_planted_shift_is_the_only_drift(spark):
    """t84's planted 2x scale shift on the error type must be the one
    type the exact KS flags (measured: D=0.27 vs crit 0.19 at
    sf0.001, 0.26 vs 0.06 at sf0.01); every stationary type stays
    under its critical value, and error's D dominates."""
    rows = {r.event_type: r for r in events.t113_ks_test(spark, SF_DIR).collect()}
    assert rows["error"].drifted
    for t, r in rows.items():
        assert 0.0 <= r.ks_d <= 1.0
        if t != "error":
            assert not r.drifted, (t, r.ks_d, r.ks_crit)
            assert r.ks_d < rows["error"].ks_d


def test_t113_ecdf_is_exact_against_numpy(spark):
    """Recompute one stationary type's D with a brute-force numpy
    ECDF over the raw events — the bucket-major two-phase cumulative
    sum must agree to the rounding digit (this is the distributed
    prefix-sum claim, checked end to end)."""
    rows = {r.event_type: r for r in events.t113_ks_test(spark, SF_DIR).collect()}
    ev = (
        load_table(spark, "events", SF_DIR)
        .filter(F.col("value").isNotNull() & (F.col("event_type") == "click"))
        .select(F.col("ts").cast("date").alias("d"), "value")
        .collect()
    )
    split = datetime.date.fromisoformat(events._T84_SPLIT)
    a = np.sort([r.value for r in ev if r.d < split])
    b = np.sort([r.value for r in ev if r.d >= split])
    grid = np.union1d(a, b)
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    assert abs(rows["click"].ks_d - round(float(np.max(np.abs(fa - fb))), 6)) < 1e-9


def test_drift_card_reflects_planted_drift_and_matches_parts(spark):
    """11 rows, 4 families; the planted error-type shift must surface
    in BOTH time-axis detectors (psi n_act >= 1, ks n_drifted >= 1 —
    t84 and t113 share the split and the plant); the ks family's max
    must equal an independent aggregation of t113's registered output
    (the card is a view of its parts)."""
    rows = events.pipeline_drift_card(spark, SF_DIR).collect()
    assert len(rows) == 11
    card = {(r.family, r.metric): r.value for r in rows}
    assert {r.family for r in rows} == {"psi", "jsd", "ks", "embedding"}
    assert card[("psi", "n_act")] >= 1.0
    assert card[("ks", "n_drifted")] >= 1.0
    ks_rows = events.t113_ks_test(spark, SF_DIR).collect()
    assert abs(card[("ks", "max_ks_d")] - round(max(r.ks_d for r in ks_rows) + 0.0, 6)) < 1e-9
    assert card[("ks", "n_types")] == float(len(ks_rows))


def test_t94_null_never_stops_and_planted_stays_stopped(spark):
    from ai_iceberg_demo_spark.streaming.events import t94_msprt_sequential

    out = t94_msprt_sequential(spark, SF_DIR).toPandas()
    null = out[out.scenario == "null"]
    planted = out[out.scenario == "planted"].sort_values("day")
    assert not null.stopped_by_today.any()
    assert planted.stopped_by_today.any()
    # always-valid p is non-increasing (running-max construction)
    for scen in ("null", "planted"):
        p = out[out.scenario == scen].sort_values("day").always_valid_p
        assert (p.diff().dropna() <= 1e-12).all()
    # once stopped, stays stopped
    s = planted.stopped_by_today.tolist()
    assert s == sorted(s, key=lambda x: (x,)) or s.index(True) >= 0
    first = s.index(True)
    assert all(s[first:])
