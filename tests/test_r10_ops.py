"""Round-10 operator pins: the capped deterministic k-NN graph (v18c)
and its re-based consumers. The hash oracle proves engine≡DuckDB at
the fixture SFs; these prove (a) the cap costs little recall vs the
uncapped anchor, (b) the SALT tier — which the isotropic fixture never
triggers — fires on a degenerate cluster and still hash-matches
DuckDB, and (c) the consumers really ride the capped substrate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR


def _q(name):
    return all_registries().specs[name].fn


def test_v18c_agreement_and_recall_vs_uncapped_anchor(spark):
    """The cap must be nearly free at fixture scale: edge agreement
    with the uncapped v18b anchor >= 0.9 (measured 0.957 at T=24;
    T=16 over-split to 0.68 — the pin catches a regression to an
    over-aggressive cap), and recall@3 vs brute force within 0.05 of
    the anchor's (measured 0.691 vs 0.722)."""
    import duckdb

    from ai_iceberg_demo_spark.vector.similarity import v18b_knn_graph_det

    capped = _q("v18c_knn_graph_capped")(spark, SF_DIR).collect()
    anchor = v18b_knn_graph_det(spark, SF_DIR).collect()
    ec = {(r.src, r.dst) for r in capped}
    eb = {(r.src, r.dst) for r in anchor}
    agreement = len(ec & eb) / len(eb)
    assert agreement >= 0.9, f"edge agreement vs uncapped anchor {agreement:.3f}"

    emb = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"'{SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in emb])
    x = np.array([r[1] for r in emb])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(xn @ xn.T, 6)
    np.fill_diagonal(sims, -np.inf)
    order = np.lexsort((ids[None, :].repeat(len(ids), 0), -sims), axis=1)[:, :3]
    exact = {ids[i]: set(ids[order[i]]) for i in range(len(ids))}

    def recall(edges):
        got = {}
        for r in edges:
            got.setdefault(r.src, set()).add(r.dst)
        return float(np.mean([len(got.get(s, set()) & exact[s]) / 3 for s in exact]))

    rc, rb = recall(capped), recall(anchor)
    assert rc >= rb - 0.05, f"capped recall {rc:.3f} vs anchor {rb:.3f}"
    assert rc >= 0.6, f"capped recall floor {rc:.3f}"


def test_v18c_salt_tier_fires_and_matches_duckdb(spark):
    """A planted degenerate cluster (300 identical vectors — the case
    no hyperplane separates, so the secondary split leaves one hot
    sub-bucket) must reach the SALT tier, and the salted graph must
    still hash-match the SQL twin run over the same planted frame —
    the cross-engine proof the isotropic fixture can't provide."""
    import duckdb

    from ai_iceberg_demo_spark.registry import all_registries as _ar
    from ai_iceberg_demo_spark.vector.similarity import (
        _md5_capped_keys,
        knn_graph_capped_det,
    )
    from tools.oracle_check import value_hash

    rng = np.random.RandomState(7)
    core = rng.randn(64)
    cluster = [core.tolist() for _ in range(300)]
    background = [rng.randn(64).tolist() for _ in range(100)]
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(400)),
            "embedding": cluster + background,
            "label": [i % 10 for i in range(400)],
        }
    )
    sdf = spark.createDataFrame(pdf)

    # (a) the salt tier fires: the cluster lands in one sub-bucket per
    # table (identical signatures), > hard cap, so salt cells > 0 exist
    keys = _md5_capped_keys(sdf)
    assert keys.filter(F.col("salt") > 0).count() > 0, "salt tier never fired"

    # (b) cross-engine: same capped semantics in DuckDB over the same
    # planted frame — includes the md5 salt and integer cell count
    got = knn_graph_capped_det(sdf, k=3).toPandas()
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(_ar().specs["v18c_knn_graph_capped"].oracle).df()
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want), "salted graph diverges from SQL twin"
    spark.catalog.clearCache()


def test_d26b_pairs_are_reciprocal_capped_edges(spark):
    """Every mutual pair must be present in BOTH directions of the
    capped graph, and be emitted once with a < b."""
    graph = {(r.src, r.dst) for r in _q("v18c_knn_graph_capped")(spark, SF_DIR).collect()}
    pairs = _q("d26b_mutual_knn_capped")(spark, SF_DIR).collect()
    assert pairs, "no mutual pairs at fixture scale"
    for r in pairs:
        assert r.vec_a < r.vec_b
        assert (r.vec_a, r.vec_b) in graph and (r.vec_b, r.vec_a) in graph


def test_t107_vocab_growth_curve_shape(spark):
    """The shingle-type growth curve must be a real curve: cumulative
    counts strictly increasing, types < tokens everywhere, and the
    Heaps exponent in (0, 1) — sublinear type growth (beta ~ 1 would
    mean every shingle is new; ~0 would mean a closed vocabulary, the
    degeneracy the unigram unit measured on this fixture)."""
    rows = sorted(
        _q("t107_vocab_growth")(spark, SF_DIR).collect(), key=lambda r: r.checkpoint
    )
    assert len(rows) >= 5
    for a, b in zip(rows, rows[1:]):
        assert b.cum_tokens > a.cum_tokens
        assert b.cum_types >= a.cum_types
    assert rows[-1].cum_types > rows[0].cum_types, "type growth is flat"
    for r in rows:
        assert r.cum_types < r.cum_tokens
        assert r.heaps_beta == rows[0].heaps_beta  # fit constant per row
    assert 0.0 < rows[0].heaps_beta < 1.0


def test_pipeline_graph_quality_card_matches_parts(spark):
    """The governance card's values must equal the parts it claims to
    summarize — n_edges is v18c's edge count, n_mutual_pairs is d26b's
    row count, and the rates are internally consistent."""
    card = {
        (r.family, r.metric): r.value
        for r in _q("pipeline_graph_quality")(spark, SF_DIR).collect()
    }
    assert len(card) == 8
    n_edges = _q("v18c_knn_graph_capped")(spark, SF_DIR).count()
    n_pairs = _q("d26b_mutual_knn_capped")(spark, SF_DIR).count()
    assert card[("substrate", "n_edges")] == float(n_edges)
    assert card[("precision_tier", "n_mutual_pairs")] == float(n_pairs)
    assert card[("precision_tier", "mutual_rate")] == round(2.0 * n_pairs / n_edges, 6)
    assert 0.0 <= card[("label_qa", "flag_rate")] <= 1.0
    assert 0.0 <= card[("classification", "knn_accuracy_overall")] <= 1.0
    assert 1.0 <= card[("label_qa", "avg_n_agree")] <= 3.0


def test_v24c_verdict_consistency(spark):
    """v24c emits one audit row per vector; flagged rows are exactly
    the unanimous-disagreement rows (v24's semantics on the capped
    substrate)."""
    rows = _q("v24c_label_noise_capped")(spark, SF_DIR).collect()
    n_emb = _q("v18c_knn_graph_capped")(spark, SF_DIR).select("src").distinct().count()
    assert len(rows) == n_emb
    for r in rows:
        assert 1 <= r.n_agree <= r.n_neighbors <= 3
        expect = "flagged" if (r.n_agree == 3 and r.neighbor_label != r.own_label) else "ok"
        assert r.verdict == expect
