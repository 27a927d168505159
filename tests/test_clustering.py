"""k-means + SemDeDup: assignment determinism, Lloyd convergence,
planted-twin dedup."""

from __future__ import annotations

import pyspark.sql.functions as F

from ai_iceberg_demo_spark.tables import load_table
from ai_iceberg_demo_spark.vector.clustering import (
    KMEANS_K,
    _TWIN_OFFSET,
    d8_semdedup,
    kmeans_assign,
    kmeans_train,
    salt_near_dups,
    seed_centroids,
)
from tests.conftest import SF_DIR


def _corpus(spark):
    return load_table(spark, "embeddings", SF_DIR)


def test_assign_covers_corpus_once(spark):
    corpus = _corpus(spark)
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    n = corpus.count()
    assert assigned.count() == n  # every vector exactly one cell
    assert assigned.select("vec_id").distinct().count() == n
    cells = {r["cell_id"] for r in assigned.select("cell_id").distinct().collect()}
    assert cells <= set(range(KMEANS_K))


def test_seed_vectors_assign_to_themselves(spark):
    corpus = _corpus(spark)
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    seeds = assigned.filter(F.col("vec_id") < KMEANS_K).collect()
    for r in seeds:
        assert r["cell_id"] == r["vec_id"] and r["dist"] == 0.0


def test_lloyd_iterations_do_not_increase_inertia(spark):
    corpus = _corpus(spark)

    def inertia(centroids):
        a = kmeans_assign(corpus, centroids)
        return a.agg(F.sum(F.col("dist") * F.col("dist"))).first()[0]

    seed_inertia = inertia(seed_centroids(corpus))
    trained_inertia = inertia(kmeans_train(corpus, n_iter=2))
    # Lloyd monotonically decreases inertia (up to dist rounding noise)
    assert trained_inertia <= seed_inertia * 1.001


def test_trained_centroids_shape(spark):
    corpus = _corpus(spark)
    cen = kmeans_train(corpus, n_iter=1).collect()
    assert len(cen) == KMEANS_K
    dim = len(corpus.first()["embedding"])
    assert all(len(r["centroid"]) == dim for r in cen)


def test_semdedup_drops_exactly_planted_twins(spark):
    corpus = _corpus(spark)
    n_twins = corpus.filter(F.col("vec_id") % 25 == 0).count()
    dropped = d8_semdedup(spark, SF_DIR).collect()
    # every planted twin is dropped in favor of its original; no
    # original is ever dropped (fixture has no natural near-dups)
    assert len(dropped) == n_twins
    for r in dropped:
        assert r["vec_id"] >= _TWIN_OFFSET
        assert r["kept_id"] == r["vec_id"] - _TWIN_OFFSET


def test_salted_twins_land_with_their_originals(spark):
    corpus = salt_near_dups(_corpus(spark))
    assigned = kmeans_assign(corpus, seed_centroids(corpus))
    cells = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    twins = [v for v in cells if v >= _TWIN_OFFSET]
    assert twins
    same = sum(cells[v] == cells[v - _TWIN_OFFSET] for v in twins)
    assert same == len(twins)  # a +0.01 nudge never flips the argmin here


def test_pca_projection_invariants(spark):
    """v12: components are orthonormal, projected coordinates are
    centered (mean ≈ 0 — they're projections of centered vectors), and
    their variances come out in descending eigenvalue order."""
    import numpy as np
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import PCA_K, pca_components
    from ai_iceberg_demo_spark.vector.clustering import v12_pca_project

    corpus = load_table(spark, "embeddings", SF_DIR)
    _, comps = pca_components(corpus)
    C = np.array(comps)
    assert C.shape[0] == PCA_K
    assert np.allclose(C @ C.T, np.eye(PCA_K), atol=1e-8), "components not orthonormal"

    out = v12_pca_project(spark, SF_DIR)
    stats = out.agg(
        *[F.avg(f"pc{i+1}").alias(f"m{i+1}") for i in range(PCA_K)],
        *[F.var_pop(f"pc{i+1}").alias(f"v{i+1}") for i in range(PCA_K)],
    ).first()
    for i in range(PCA_K):
        assert abs(stats[f"m{i+1}"]) < 1e-2, f"pc{i+1} not centered"
    variances = [stats[f"v{i+1}"] for i in range(PCA_K)]
    # descending up to the rounding the projection applies
    for a, b in zip(variances, variances[1:]):
        assert a >= b - 1e-3, variances


def test_v13_standardize_array_form_matches_exploded_and_is_zero_mean_unit_std(spark):
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import standardize, v13_standardize

    corpus = load_table(spark, "embeddings", SF_DIR)
    arr = {r["vec_id"]: r["zvec"] for r in standardize(corpus).collect()}
    exploded = v13_standardize(spark, SF_DIR).collect()
    assert len(exploded) == len(arr) * len(next(iter(arr.values())))
    for r in exploded[:2000]:
        assert abs(arr[r["vec_id"]][r["dim_i"]] - r["z"]) < 1e-9

    stats = (
        v13_standardize(spark, SF_DIR)
        .groupBy("dim_i")
        .agg(F.avg("z").alias("m"), F.stddev_pop("z").alias("sd"))
        .collect()
    )
    for r in stats:
        assert abs(r["m"]) < 1e-4, r
        assert abs(r["sd"] - 1.0) < 1e-3, r


def test_v16_drift_alarm_fires_on_planted_shift_and_stays_quiet_on_fixture(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from ai_iceberg_demo_spark.vector.clustering import v16_embedding_drift

    # fixture halves come from one distribution — expect few/no flags,
    # and each z must match a numpy replay of the same rounded moments
    rows = v16_embedding_drift(spark, SF_DIR).collect()
    assert len(rows) == 64
    assert sum(r["drifted"] for r in rows) <= 3  # ~0 expected at |z|>=3

    # planted drift: dim 0 of the second half shifted by +5 sigma
    rng = np.random.default_rng(7)
    n, dim = 400, 8
    emb = rng.normal(0, 1, (n, dim))
    emb[n // 2 :, 0] += 5.0
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [row.astype("float64").tolist() for row in emb],
            "label": ["x"] * n,
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    planted = {r["dim_i"]: r for r in v16_embedding_drift(spark, str(tmp_path)).collect()}
    assert planted[0]["drifted"] == 1
    assert abs(planted[0]["z"]) > 10
    assert sum(r["drifted"] for r in planted.values()) <= 2  # only dim 0 (+ noise)


def test_diverse_sample_quota_is_exact_per_cell(spark):
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import (
        _DIVERSE_PER_CELL,
        kmeans_assign,
        seed_centroids,
        v17_diverse_sample,
    )

    corpus = load_table(spark, "embeddings", SF_DIR)
    sizes = {
        r["cell_id"]: r["n"]
        for r in kmeans_assign(corpus, seed_centroids(corpus))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["cell_id"]: r["n"]
        for r in v17_diverse_sample(spark, SF_DIR)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) == set(sizes)
    for cell, n in got.items():
        assert n == min(_DIVERSE_PER_CELL, sizes[cell])


def test_power_iteration_converges_to_numpy_top_eigenvector(spark):
    """v12b: after 3 rounds the SQL-replayable power iteration must
    align with numpy's exact top covariance eigenvector (|cos| ≥ 0.9)
    and the Rayleigh quotient must be within 10% of the true top
    eigenvalue — the quantized unroll is real PCA, not just
    cross-engine-stable arithmetic."""
    import numpy as np

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.clustering import v12b_power_iteration
    from tests.conftest import SF_DIR

    rows = v12b_power_iteration(spark, SF_DIR).collect()
    v = np.zeros(64)
    for r in rows:
        v[r["dim_i"]] = r["pc1"]
    lam = rows[0]["eigenvalue"]

    X = np.stack(
        [
            np.array(r["embedding"], dtype=float)
            for r in load_table(spark, "embeddings", SF_DIR).collect()
        ]
    )
    # replicate the planted rank-1 spike the operator applies
    ids = [r["vec_id"] for r in load_table(spark, "embeddings", SF_DIR).collect()]
    for row_i, vid in enumerate(ids):
        if vid % 5 == 0:
            X[row_i, 0] += 0.5
    Xc = X - X.mean(axis=0)
    C = (Xc.T @ Xc) / len(X)
    evals, evecs = np.linalg.eigh(C)
    top_vec = evecs[:, -1]
    top_val = evals[-1]
    cos = abs(float(v @ top_vec) / (np.linalg.norm(v) * np.linalg.norm(top_vec)))
    assert cos >= 0.9, cos
    assert abs(lam - top_val) / top_val <= 0.1, (lam, top_val)


def test_two_level_assignment_agrees_with_brute_force(spark):
    """v36's 2-probe coarse route vs brute-force nearest-fine-seed:
    the ISOTROPIC fixture is the worst case for coarse routing (all
    seeds near-equidistant, boundaries everywhere), measured at 82%
    agreement — pin ≥0.8 so a routing regression shows up, plus
    exactly-once coverage. Clustered real embeddings route far
    better; blocking quality, not exactness, is the contract (d8
    compares within cells, it never claims nearest-cell optimality)."""
    import math

    from ai_iceberg_demo_spark.vector.clustering import SEMDEDUP_CELL, v36_two_level_assign

    emb = load_table(spark, "embeddings", SF_DIR)
    k = max(KMEANS_K, math.ceil(emb.count() / SEMDEDUP_CELL))
    brute = {
        r["vec_id"]: r["cell_id"]
        for r in kmeans_assign(emb, seed_centroids(emb, k=k)).collect()
    }
    two = {r["vec_id"]: r["cell_id"] for r in v36_two_level_assign(spark, SF_DIR).collect()}
    assert set(two) == set(brute)  # every vector assigned exactly once
    agree = sum(1 for v, c in two.items() if brute[v] == c)
    assert agree / len(two) >= 0.8, f"agreement {agree}/{len(two)}"


def test_v34_nmi_identities(spark):
    from ai_iceberg_demo_spark.vector.clustering import v34_cluster_label_nmi

    r = v34_cluster_label_nmi(spark, SF_DIR).toPandas().iloc[0]
    assert 0 <= r.nmi <= 1
    assert r.mutual_information <= min(r.h_clusters, r.h_labels) + 1e-9
    assert abs(
        r.nmi - r.mutual_information / ((r.h_clusters + r.h_labels) / 2)
    ) < 1e-4
