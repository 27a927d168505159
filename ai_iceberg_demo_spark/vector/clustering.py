"""Embedding-space clustering — k-means + SemDeDup (training-data ops).

The reference's vector surface is a Neo4j cosine index over Result
embeddings (`neo4j_rag.py:144-157`); it never clusters. A 100 TB
training-data pipeline does: k-means cells power IVF partitioning
(`similarity.py` promises "production trains k-means" at its
``ivf_topk`` seam — this module is that trainer) and SemDeDup-style
semantic dedup (cluster first, then compare only within a cluster, so
the pair space is corpus²/k instead of corpus²).

Spark-first design:
- assignment = corpus ⨯ broadcast(centroids) scored map-side, argmin
  via ``min(struct(dist, cell_id))`` — a partial-aggregable groupBy,
  no window, no Python;
- centroid recompute = posexplode to (cell, dim) partials →
  per-(cell,dim) avg → re-assemble with sort+transform. Shuffle rows
  per Lloyd round are O(vectors × dim) compact doubles; k×dim output
  stays broadcastable;
- each round ``localCheckpoint``s so plan depth stays O(1); on a
  real cluster swap for ``checkpoint()`` to durable storage.

Determinism: centroid init = the first k corpus vectors (vec_id < k),
distances rounded to 4 before the argmin with cell_id as tie-break —
the DuckDB oracle replays the identical rule, so single-step
assignment (v11) and cluster-blocked dedup (d8) are hash-checked;
the iterative trainer (v11b) is rows-only (loops aren't SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once, release_checkpoint
from ai_iceberg_demo_spark.vector.similarity import (
    _COS_SQL,
    _dot,
    _double,
    as_double,
    cos_normed,
    l2,
    vec_sql,
    with_norm,
)

REGISTRY = Registry()

KMEANS_K = 8
KMEANS_ITER = 3
SEMDEDUP_TAU = 0.98  # same near-dup bar as d5 so the two are comparable


def seed_centroids(corpus: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Deterministic init: the first k corpus vectors (the rule
    ``ivf_topk`` already uses for its fixed cells)."""
    return corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell_id"), as_double("embedding").alias("centroid")
    )


def kmeans_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """One assignment step: nearest centroid by (rounded) euclidean
    distance, ties to the lowest cell_id. Broadcast the k×dim centroid
    table; the argmin is ``min(struct(dist, cell_id))`` so it partial-
    aggregates map-side — the corpus is shuffled once on vec_id and
    AQE coalesces. Returns (vec_id, cell_id, dist)."""
    scored = (
        corpus.select("vec_id", as_double("embedding").alias("_v"))
        .crossJoin(F.broadcast(centroids))
        .select("vec_id", "cell_id", F.round(l2("_v", "centroid"), 4).alias("dist"))
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cell_id")).alias("_best")
    )
    return best.select(
        "vec_id", F.col("_best.cell_id").alias("cell_id"), F.col("_best.dist").alias("dist")
    )


_COARSE_PROBE = 2  # coarse groups probed per vector (multi-probe)


def two_level_assign(corpus: DataFrame, k: int) -> DataFrame:
    """Two-level seeded nearest-centroid assignment — the scale form of
    kmeans_assign for corpus-sized k (d8): route each vector to its
    2 nearest of ceil(√k) COARSE seeds (multi-probe, boundary-robust),
    then to the nearest FINE seed owned by those groups. Cost ~3N√k distance
    evaluations instead of brute N×k — with k ∝ N that flips the
    assignment term from N²/cell to N^1.5 (the r7 sf1 rehearsal
    measured brute assignment at 100× cost for 10× data). Every
    coarse seed is also a fine seed (distance-0 self-map), so no
    group is empty. Deterministic: all argmins are min(struct(dist,
    id)) over 4-decimal-rounded l2, ties to the lowest id — the same
    total order the oracle's ROW_NUMBER replays."""
    import math

    from pyspark.sql import Window as W

    c = math.ceil(math.sqrt(k))
    base = corpus.select("vec_id", as_double("embedding").alias("embedding"))
    fine = base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    coarse = base.filter(F.col("vec_id") < c).select(
        F.col("vec_id").alias("g_id"), F.col("embedding").alias("g_cen")
    )

    def argmin(scored, key, id_col, out_name):
        best = scored.groupBy(key).agg(F.min(F.struct("d", id_col)).alias("_b"))
        return best.select(key, F.col(f"_b.{id_col}").alias(out_name))

    f2c = argmin(
        fine.crossJoin(F.broadcast(coarse)).select(
            "cell_id",
            "g_id",
            F.round(l2("centroid", "g_cen"), 4).alias("d"),
        ),
        "cell_id",
        "g_id",
        "g_id",
    )
    # multi-probe the TOP-{_COARSE_PROBE} coarse groups: vectors near a
    # coarse boundary (e.g. a near-twin whose nudge crosses it) still
    # see the fine seeds on both sides, so any vector whose true
    # nearest fine seed lies in its top-2 groups gets the brute-force
    # cell. Window is vec_id-keyed — distributed, never global.
    vw = W.partitionBy("vec_id").orderBy("d", "g_id")
    v2c = (
        base.crossJoin(F.broadcast(coarse))
        .select(
            "vec_id",
            "g_id",
            F.round(l2("embedding", "g_cen"), 4).alias("d"),
        )
        .withColumn("rn", F.row_number().over(vw))
        .filter(F.col("rn") <= _COARSE_PROBE)
        .select("vec_id", "g_id")
    )
    fine_of = f2c.join(fine, "cell_id")  # (cell_id, g_id, centroid)
    cand = (
        v2c.join(base, "vec_id")
        .join(F.broadcast(fine_of), "g_id")
        .select(
            "vec_id",
            "cell_id",
            F.round(l2("embedding", "centroid"), 4).alias("d"),
        )
    )
    return argmin(cand, "vec_id", "cell_id", "cell_id")


def _assign2_sql(src: str, k_sql: str) -> str:
    """DuckDB replay of two_level_assign over table/CTE ``src``; ends
    with the same ``ranked`` contract as _assign_sql."""
    k = f"({k_sql})"
    return f"""
        fine AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM {src} WHERE vec_id < {k}
        ), coarse AS (
            SELECT vec_id AS g_id, CAST(embedding AS DOUBLE[]) AS g_cen
            FROM {src} WHERE vec_id < CAST(CEIL(SQRT({k})) AS BIGINT)
        ), f2c AS (
            SELECT cell_id, g_id FROM (
                SELECT f.cell_id, c.g_id,
                       ROW_NUMBER() OVER (PARTITION BY f.cell_id
                           ORDER BY ROUND(LIST_DISTANCE(f.centroid, c.g_cen), 4), c.g_id) AS rn
                FROM fine f CROSS JOIN coarse c) WHERE rn = 1
        ), v2c AS (
            -- top-2 coarse groups per vector (multi-probe; matches
            -- _COARSE_PROBE)
            SELECT vec_id, g_id FROM (
                SELECT e.vec_id, c.g_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.g_cen), 4), c.g_id) AS rn
                FROM {src} e CROSS JOIN coarse c) WHERE rn <= 2
        ), ranked AS (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
            FROM (
                SELECT v.vec_id, f.cell_id,
                       ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), f.centroid), 4) AS dist
                FROM v2c v
                JOIN {src} e ON e.vec_id = v.vec_id
                JOIN f2c m ON m.g_id = v.g_id
                JOIN fine f ON f.cell_id = m.cell_id)
        )"""


def kmeans_train(
    corpus: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITER,
    round_dp: int | None = None,
) -> DataFrame:
    """Lloyd's algorithm, DataFrame-native: assign → per-dim mean →
    new centroids, ``n_iter`` rounds. Centroid recompute explodes to
    (cell_id, dim_i, x) partials (map-side combine on a uniform
    (cell, dim) key space) and re-assembles the k×dim table with
    array_sort+transform — never a driver-side collect of vectors.
    Empty cells keep their previous centroid (left join + coalesce),
    matching scikit-learn's no-relocation behavior for this fixture.
    ``round_dp`` rounds every recomputed mean to that many decimals:
    the quantization that makes a fixed unroll replay exactly in SQL
    (v11c). Returns the final (cell_id, centroid) table."""
    dcorpus = corpus.select("vec_id", as_double("embedding").alias("embedding"))
    centroids = seed_centroids(corpus, k).localCheckpoint(eager=True)
    for _ in range(n_iter):
        assigned = kmeans_assign(dcorpus, centroids).join(dcorpus, "vec_id")
        dims = assigned.select(
            "cell_id", F.posexplode("embedding").alias("dim_i", "x")
        )
        mean = F.avg("x") if round_dp is None else F.round(F.avg("x"), round_dp)
        dim_means = dims.groupBy("cell_id", "dim_i").agg(mean.alias("m"))
        new_cen = dim_means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim_i", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
        prev, centroids = centroids, (
            centroids.select("cell_id", F.col("centroid").alias("_prev"))
            .join(new_cen, "cell_id", "left")
            .select("cell_id", F.coalesce("centroid", "_prev").alias("centroid"))
        ).localCheckpoint(eager=True)
        release_checkpoint(prev)  # the new round no longer reads it
    return centroids


def _assign_sql(src: str, k_sql: str | None = None) -> str:
    """DuckDB replay of kmeans_assign over table/CTE ``src``. ``k_sql``
    overrides the centroid-count expression (default: the fixed
    KMEANS_K literal) — d8 passes its corpus-derived k."""
    k = k_sql if k_sql is not None else str(KMEANS_K)
    return f"""
        cen AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM {src} WHERE vec_id < ({k})
        ), scored AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.centroid), 4) AS dist
            FROM {src} e CROSS JOIN cen c
        ), ranked AS (
            SELECT vec_id, cell_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
            FROM scored
        )"""


@REGISTRY.register(
    name="v11_kmeans_assign",
    survey_ref="training-data (clustering); V3 scale path",
    doc="nearest-centroid assignment over the embeddings table with "
    "the deterministic seed centroids (vec_id < k): corpus ⨯ broadcast "
    "k×dim table, rounded euclidean argmin as a partial-aggregable "
    "min(struct) — the building block ivf_topk's cells and d8's "
    "SemDeDup blocking both stand on. Hash-checked against DuckDB's "
    "LIST_DISTANCE replay of the same argmin rule.",
    oracle="WITH "
    + _assign_sql("embeddings")
    + """
        SELECT vec_id, cell_id, dist FROM ranked WHERE rn = 1
    """,
)
def v11_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    return kmeans_assign(corpus, seed_centroids(corpus))


@REGISTRY.register(
    name="v11b_kmeans_train",
    survey_ref="training-data (clustering)",
    doc=f"{KMEANS_ITER}-round Lloyd k-means (k={KMEANS_K}) over the "
    "embeddings table, fully distributed (posexplode partial means, "
    "localCheckpoint per round); output = per-cell size and rounded "
    "inertia after the final assignment. Iterative fixpoint loops "
    "aren't ANSI-SQL, so this is a rows-only check; the single "
    "assignment step it iterates IS hash-checked as v11.",
    oracle=None,
)
def v11b_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    centroids = kmeans_train(corpus)
    final = kmeans_assign(corpus, centroids)
    return (
        final.groupBy("cell_id")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(F.sum(F.col("dist") * F.col("dist")), 2).alias("inertia"),
        )
        .orderBy("cell_id")
    )


_TWIN_OFFSET = 1_000_000  # planted-twin ids: original vec_id + this


def salt_near_dups(corpus: DataFrame) -> DataFrame:
    """Plant deterministic near-duplicates: every 25th vector gets a
    twin (vec_id + 1e6) whose first component is nudged by +0.01 —
    cosine ≈ 0.9999 to its original, identically computed by the
    oracle (same doubles, same ops), so the dedup gate provably fires
    at every SF. The fixture corpus has no natural near-dups (max
    same-label cosine 0.47), so without salting d8 would be a 0-row
    check — the f29/t20 salting convention."""
    base = corpus.select("vec_id", as_double("embedding").alias("embedding"))
    twins = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


_SALT_SQL = f"""salted AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {_TWIN_OFFSET},
                   LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                  (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
            FROM embeddings WHERE vec_id % 25 = 0
        )"""


# SemDeDup cells are sized, not counted: k = max(KMEANS_K, ceil(N /
# SEMDEDUP_CELL)) keeps the per-cell pair space bounded as the corpus
# grows — fixed k would make intra-cell pairs quadratic in N (the r7
# sf1 scaling rehearsal measured exactly that: 33x wall at 10x data).
# The SemDeDup paper's discipline (k proportional to N); both sides
# derive k from the same unsalted COUNT(*) so the hash oracle holds at
# every SF.
SEMDEDUP_CELL = 250
_SEMDEDUP_K_SQL = (
    f"SELECT GREATEST({KMEANS_K}, CAST(CEIL(COUNT(*) / {SEMDEDUP_CELL}.0) AS BIGINT)) "
    "FROM embeddings"
)


@REGISTRY.register(
    name="d8_semdedup",
    survey_ref="training-data (semantic dedup); V7",
    bench=True,
    doc=f"SemDeDup: cluster-blocked semantic near-dup removal. Vectors "
    f"(plus deterministically planted near-twin rows — see "
    f"salt_near_dups) are assigned to their seed k-means cell (v11's "
    f"hash-checked argmin) with k sized to the corpus (ceil(N/{SEMDEDUP_CELL}) "
    f"cells, so cells stay ~{SEMDEDUP_CELL} rows and the pair space "
    f"scales linearly), then cosine ≥ {SEMDEDUP_TAU} "
    "pairs are searched ONLY within a cell — corpus²/k pair space "
    "instead of d5's label-blocked (oracle-given buckets) or corpus² "
    "(none). Output = the drop list: vec_id → the smaller-id "
    "near-duplicate kept in its place. Norms hoisted per row "
    "(with_norm), dot per surviving pair.",
    oracle="WITH "
    + _SALT_SQL
    + ", "
    + _assign_sql("salted", k_sql=_SEMDEDUP_K_SQL)
    + f"""
        , assigned AS (
            SELECT vec_id, cell_id FROM ranked WHERE rn = 1
        ), pairs AS (
            SELECT b.vec_id AS vec_id, a.vec_id AS kept_id,
                   ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) AS score
            FROM assigned aa
            JOIN assigned bb ON aa.cell_id = bb.cell_id AND aa.vec_id < bb.vec_id
            JOIN salted a ON a.vec_id = aa.vec_id
            JOIN salted b ON b.vec_id = bb.vec_id
            WHERE ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6)
                  >= {SEMDEDUP_TAU}
        )
        SELECT vec_id, CAST(MIN(kept_id) AS BIGINT) AS kept_id
        FROM pairs GROUP BY vec_id
    """,
)
def d8_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, "embeddings", sf_dir)
    # corpus-sized k (1-scalar driver read; table-stats metadata at 100 TB)
    k = max(KMEANS_K, math.ceil(emb.count() / SEMDEDUP_CELL))
    corpus = salt_near_dups(emb)
    assigned = kmeans_assign(corpus, seed_centroids(corpus, k=k)).select(
        "vec_id", "cell_id"
    )
    # persist: both halves of the pair self-join read this frame — the
    # upstream salt + centroid-assignment argmin would otherwise run
    # twice (persist measured 3.5× end-to-end at sf0.1)
    side = with_norm(corpus, "embedding", "v", "n").join(assigned, "vec_id").transform(persist_once)
    a = side.select(
        F.col("vec_id").alias("kept_id"),
        F.col("cell_id").alias("ac"),
        F.col("v").alias("av"),
        F.col("n").alias("na"),
    )
    b = side.select(
        F.col("vec_id").alias("vec_id"),
        F.col("cell_id").alias("bc"),
        F.col("v").alias("bv"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, (F.col("ac") == F.col("bc")) & (F.col("kept_id") < F.col("vec_id")))
        .filter(
            F.round(cos_normed("av", "na", "bv", "nb"), 6) >= SEMDEDUP_TAU
        )
        .select("vec_id", "kept_id")
    )
    return pairs.groupBy("vec_id").agg(F.min("kept_id").alias("kept_id"))


# ---------------------------------------------------------------------------
# V12: PCA projection — embedding dimensionality reduction
# ---------------------------------------------------------------------------

PCA_K = 8  # projected dimensions


def pca_components(corpus: DataFrame, vec_col: str = "embedding", k: int = PCA_K):
    """Top-k principal components of the embedding column.

    The only corpus-sized work is distributed: per-dimension sums for
    the mean and per-(i,j) cross-product sums for the second-moment
    matrix, both computed as posexplode → compact (index, partial)
    rows with map-side combine — one exchange on a dim²-sized key
    space. What reaches the driver is dim + dim² aggregated floats
    (corpus-INDEPENDENT, like an index meta table — 64-dim → 4 KB +
    32 KB), and the dim×dim eigensolve runs there; shipping a 64×64
    eigenproblem to executors would be orchestration, not
    distribution. Determinism: numpy ``eigh`` on an exact symmetric
    matrix, each component sign-normalized so its largest-|x| entry
    is positive.

    Returns (mean: list[float], components: list[list[float]] — k
    rows of dim floats, descending eigenvalue order).
    """
    import numpy as np

    base = corpus.select(as_double(vec_col).alias("v"))
    n = base.count()
    ei = base.select(F.posexplode("v").alias("i", "xi"))
    mean_rows = ei.groupBy("i").agg(F.sum("xi").alias("s")).collect()
    dim = len(mean_rows)
    mean = np.zeros(dim)
    for r in mean_rows:
        mean[r["i"]] = r["s"] / n
    # second moments: two posexplodes fan each row to dim² compact
    # (i, j, xi·xj) entries; partial sums collapse map-side so the
    # exchange carries ≤ dim² rows per task
    eij = base.select(F.posexplode("v").alias("i", "xi"), F.col("v")).select(
        "i", "xi", F.posexplode("v").alias("j", "xj")
    )
    mom_rows = (
        eij.groupBy("i", "j").agg(F.sum(F.col("xi") * F.col("xj")).alias("s")).collect()
    )
    moment = np.zeros((dim, dim))
    for r in mom_rows:
        moment[r["i"], r["j"]] = r["s"] / n
    cov = moment - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    comps = []
    for idx in range(dim - 1, dim - 1 - k, -1):
        c = eigvecs[:, idx]
        if c[np.argmax(np.abs(c))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return [float(x) for x in mean], comps


@REGISTRY.register(
    name="v12_pca_project",
    survey_ref="training-data (dimensionality reduction); V3 scale path",
    doc=f"project every embedding onto its corpus' top-{PCA_K} principal "
    "components — the standard pre-reduction that makes ANN/clustering "
    "cheaper at 100 TB (shorter vectors → cheaper dots, denser cells). "
    "Covariance aggregates distributedly (posexplode partials, one "
    "dim²-keyed exchange); only the dim²-sized moment matrix reaches "
    "the driver for the eigensolve (corpus-independent — an index-meta "
    "read, not a collect of data). Eigensolves aren't ANSI SQL, so "
    "rows-only; the invariants (variance ordering, orthonormality, "
    "centering) are pinned in tests/test_clustering.py.",
    oracle=None,
)
def v12_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    mean, comps = pca_components(corpus)
    centered = f"zip_with({_double('embedding')}, {vec_sql(mean)}, (_x, _m) -> _x - _m)"
    return corpus.selectExpr(
        "vec_id",
        *[
            f"round({_dot(centered, vec_sql(comp))}, 4) AS pc{i + 1}"
            for i, comp in enumerate(comps)
        ],
    )


# ---------------------------------------------------------------------------
# v13: per-dimension embedding standardization (z-score)
# ---------------------------------------------------------------------------


def dim_stats(corpus: DataFrame) -> DataFrame:
    """Per-dimension corpus mean / population std of the embedding
    column, rounded to 6 (so downstream arithmetic is engine-portable).

    posexplode to (dim_i, x) partials — map-side combine collapses
    each task to ≤ dim rows, so the exchange moves O(tasks × dim)
    doubles no matter the corpus size (v12's covariance shape, one
    order cheaper). Returns (dim_i, m, sd).
    """
    dims = corpus.select(
        as_double("embedding").alias("e")
    ).select(F.posexplode("e").alias("dim_i", "x"))
    mean = F.sum("x") / F.count(F.lit(1))
    var = F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1)) - mean * mean
    return dims.groupBy("dim_i").agg(
        F.round(mean, 6).alias("m"), F.round(F.sqrt(var), 6).alias("sd")
    )


def standardize(corpus: DataFrame) -> DataFrame:
    """(vec_id, zvec): the embedding column rescaled to zero-mean /
    unit-std per dimension — the standard pre-conditioning before
    k-means (v11) or PCA (v12) so no dimension dominates the metric.

    The dim×2 stats table re-assembles into two broadcast arrays and
    the rescale is a single map-side ``transform`` over the original
    array — the corpus is scanned once, never shuffled.
    """
    stats_row = dim_stats(corpus).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_i", "m"))), lambda s: s["m"]
        ).alias("_ms"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_i", "sd"))), lambda s: s["sd"]
        ).alias("_sds"),
    )
    zvec = F.transform(
        as_double("embedding"),
        lambda x, i: F.round(
            (x - F.element_at(F.col("_ms"), i + 1))
            / F.element_at(F.col("_sds"), i + 1),
            6,
        ),
    )
    return (
        corpus.crossJoin(F.broadcast(stats_row))
        .select("vec_id", zvec.alias("zvec"))
    )


@REGISTRY.register(
    name="v13_standardize",
    survey_ref="training-data (feature scaling); feeds V3/v11/v12",
    doc="per-dimension z-score standardization of the embeddings "
    "table, exploded to (vec_id, dim_i, z) for the oracle (the array "
    "form is `standardize()`; same values — pinned in tests). Stats "
    "aggregate via posexplode partials (map-side combine, O(dim) rows "
    "per task through the exchange); the rescale joins the broadcast "
    "dim-stats table back map-side. Mean/std/z all rounded to 6 so "
    "DuckDB's sequential summation and Spark's partial-merge "
    "summation agree.",
    oracle="""
        WITH dims AS (
            SELECT vec_id,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS x,
                   GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim_i
            FROM embeddings
        ), st AS (
            SELECT dim_i,
                   ROUND(SUM(x) / COUNT(*), 6) AS m,
                   ROUND(SQRT(SUM(x * x) / COUNT(*)
                              - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*))), 6) AS sd
            FROM dims GROUP BY dim_i
        )
        SELECT d.vec_id, CAST(d.dim_i AS INT) AS dim_i,
               ROUND((d.x - s.m) / s.sd, 6) AS z
        FROM dims d JOIN st s USING (dim_i)
        WHERE s.sd > 0
    """,
)
def v13_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    dims = corpus.select(
        "vec_id", as_double("embedding").alias("e")
    ).select("vec_id", F.posexplode("e").alias("dim_i", "x"))
    st = dim_stats(corpus).filter(F.col("sd") > 0)
    return (
        dims.join(F.broadcast(st), "dim_i")
        .select(
            "vec_id",
            F.col("dim_i").cast("int").alias("dim_i"),
            F.round((F.col("x") - F.col("m")) / F.col("sd"), 6).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# v15: topic-cluster term summaries (k-means × text composition)
# ---------------------------------------------------------------------------

_TOPIC_TOPK = 5


@REGISTRY.register(
    name="v15_topic_terms",
    survey_ref="training-data (topic modeling lite); composes v11 + text",
    doc=f"top-{_TOPIC_TOPK} characteristic terms per embedding cluster: "
    "v11's deterministic k-means assignment joined to the documents "
    "(doc_id ≡ vec_id), token counts per (cell, term), ranked within "
    "cell — the human-readable 'what is this cluster about' summary a "
    "SemDeDup/mixture decision is reviewed with. Plan: broadcast "
    "k×dim centroids → map-side argmin, token explode → one "
    "(cell, term)-keyed partial-agg shuffle, then a window over the "
    "vocab×k count table (corpus-independent size). Deterministic "
    "assignment makes the whole composition hash-checkable.",
    oracle="WITH "
    + _assign_sql("embeddings")
    + f"""
        , assign AS (
            SELECT vec_id, cell_id FROM ranked WHERE rn = 1
        ), toks AS (
            SELECT a.cell_id, UNNEST(STRING_SPLIT(d.text, ' ')) AS term
            FROM assign a JOIN documents d ON d.doc_id = a.vec_id
        ), counts AS (
            SELECT cell_id, term, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks GROUP BY cell_id, term
        ), topk AS (
            SELECT cell_id, term, n,
                   CAST(ROW_NUMBER() OVER (PARTITION BY cell_id
                                           ORDER BY n DESC, term) AS INT) AS rank
            FROM counts
        )
        SELECT cell_id, term, n, rank FROM topk WHERE rank <= {_TOPIC_TOPK}
    """,
)
def v15_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    corpus = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    assign = kmeans_assign(corpus, seed_centroids(corpus)).select("vec_id", "cell_id")
    toks = (
        assign.join(docs, assign.vec_id == docs.doc_id)
        .select("cell_id", F.explode(F.split("text", " ")).alias("term"))
    )
    counts = toks.groupBy("cell_id", "term").agg(F.count("*").alias("n"))
    w = W.partitionBy("cell_id").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPIC_TOPK)
    )


# ---------------------------------------------------------------------------
# v16: embedding drift report (batch-over-batch distribution shift)
# ---------------------------------------------------------------------------

_DRIFT_Z = 3.0  # |z| above this flags the dimension as drifted


def drift_from_sliced(dims: DataFrame) -> DataFrame:
    """Per-dimension two-sample z report from a (slice∈{a,b}, dim_i, x)
    frame — the v16 arithmetic, shared with the index-maintenance
    pipeline's drift gate. O(dim) rows through every exchange."""
    mean = F.sum("x") / F.count(F.lit(1))
    var = F.sum(F.col("x") * F.col("x")) / F.count(F.lit(1)) - mean * mean
    # r12 (guide §2.4 + the v32 fan-out lesson): the moments table is
    # O(dim) rows and formerly fed a and b as separate filter branches
    # — the corpus posexplode + partial agg executed TWICE. The a⋈b
    # self-join folds into one pivot-style aggregation per dim, the
    # moments table's only reader, so it is not persisted.
    st = dims.groupBy("dim_i", "slice").agg(
        F.count("*").cast("double").alias("n"),
        F.round(mean, 6).alias("m"),
        F.round(var, 6).alias("v"),
    )

    def side(col: str, s: str):
        return F.max(F.when(F.col("slice") == s, F.col(col)))

    wide = st.groupBy("dim_i").agg(
        side("n", "a").alias("n_a"),
        side("m", "a").alias("mean_a"),
        side("v", "a").alias("v_a"),
        side("n", "b").alias("n_b"),
        side("m", "b").alias("mean_b"),
        side("v", "b").alias("v_b"),
    ).filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
    z = (F.col("mean_b") - F.col("mean_a")) / F.sqrt(
        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    )
    return wide.select(
        "dim_i",
        "mean_a",
        "mean_b",
        F.round(z, 4).alias("z"),
        F.when(F.abs(z) >= _DRIFT_Z, 1).otherwise(0).cast("int").alias("drifted"),
    )


def drift_zscores(a_corpus: DataFrame, b_corpus: DataFrame) -> DataFrame:
    """Drift report between two explicit (vec_id, embedding) slices —
    yesterday's indexed corpus vs today's arrival batch."""
    dims = (
        a_corpus.select(F.lit("a").alias("slice"), as_double("embedding").alias("e"))
        .unionByName(
            b_corpus.select(F.lit("b").alias("slice"), as_double("embedding").alias("e"))
        )
        .select("slice", F.posexplode("e").alias("dim_i", "x"))
    )
    return drift_from_sliced(dims)


@REGISTRY.register(
    name="v16_embedding_drift",
    survey_ref="training-data (embedding QA); v13 family",
    doc="distribution-shift monitor between two corpus slices (vec_id "
    "halves standing in for yesterday's vs today's embedding batch): "
    "per-dimension two-sample z statistic "
    "z = (m_b − m_a) / sqrt(v_a/n_a + v_b/n_b), flagged at |z| ≥ 3 — "
    "the alarm that catches a silently changed embedding provider or "
    "preprocessing regression before it poisons ANN/dedup. One "
    "posexplode partial-moment pass per slice (v13's shape), joined "
    "on the dim key: O(dim) rows through every exchange regardless of "
    "corpus size. All moments round to 6 before the z arithmetic so "
    "both engines agree bit-for-bit.",
    oracle=f"""
        WITH dims AS (
            SELECT vec_id,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS x,
                   GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim_i
            FROM embeddings
        ), half AS (
            SELECT dim_i, x,
                   CASE WHEN vec_id < (SELECT MAX(vec_id) + 1 FROM embeddings) / 2
                        THEN 'a' ELSE 'b' END AS slice
            FROM dims
        ), st AS (
            SELECT dim_i, slice,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   ROUND(SUM(x) / COUNT(*), 6) AS m,
                   ROUND(SUM(x * x) / COUNT(*)
                         - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)), 6) AS v
            FROM half GROUP BY dim_i, slice
        )
        SELECT a.dim_i,
               a.m AS mean_a, b.m AS mean_b,
               ROUND((b.m - a.m) / SQRT(a.v / a.n + b.v / b.n), 4) AS z,
               CAST(CASE WHEN ABS((b.m - a.m) / SQRT(a.v / a.n + b.v / b.n))
                              >= {_DRIFT_Z} THEN 1 ELSE 0 END AS INT) AS drifted
        FROM st a JOIN st b ON a.dim_i = b.dim_i
        WHERE a.slice = 'a' AND b.slice = 'b'
    """,
)

def v16_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_drift(load_table(spark, "embeddings", sf_dir))


def embedding_drift(corpus: DataFrame) -> DataFrame:
    """v16's per-dimension rows over ``corpus``, its vec_id halves as
    the two slices."""
    n_max = corpus.agg((F.max("vec_id") + 1).alias("n"))
    dims = (
        corpus.crossJoin(F.broadcast(n_max))
        .select(
            F.when(F.col("vec_id") < F.col("n") / 2, "a").otherwise("b").alias("slice"),
            as_double("embedding").alias("e"),
        )
        .select("slice", F.posexplode("e").alias("dim_i", "x"))
    )
    return drift_from_sliced(dims)


# ---------------------------------------------------------------------------
# v17: cluster-balanced (diversity) sampling
# ---------------------------------------------------------------------------

_DIVERSE_PER_CELL = 10


@REGISTRY.register(
    name="v17_diverse_sample",
    survey_ref="training-data (eval-set construction); v11/u12 family",
    doc=f"embedding-diversity sample: up to {_DIVERSE_PER_CELL} vectors "
    "per k-means cell, chosen by key-hash order — the eval-set "
    "construction that covers the embedding space instead of letting "
    "a uniform sample mirror the corpus' densest mode (u12's exact "
    "stratified quota with v11's cells as the strata). Broadcast "
    "centroids assign map-side; the per-cell window shuffles once on "
    "cell_id — at production k (thousands) the key space spreads; at "
    "toy k, salt the window like a9.",
    oracle="WITH "
    + _assign_sql("embeddings")
    + f"""
        , assign AS (
            SELECT vec_id, cell_id FROM ranked WHERE rn = 1
        ), ordered AS (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY cell_id
                                      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS r
            FROM assign
        )
        SELECT vec_id, CAST(cell_id AS BIGINT) AS cell_id
        FROM ordered WHERE r <= {_DIVERSE_PER_CELL}
    """,
)
def v17_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    corpus = load_table(spark, "embeddings", sf_dir)
    assign = kmeans_assign(corpus, seed_centroids(corpus)).select("vec_id", "cell_id")
    w = W.partitionBy("cell_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        assign.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _DIVERSE_PER_CELL)
        .select("vec_id", F.col("cell_id").cast("bigint").alias("cell_id"))
    )


# ---------------------------------------------------------------------------
# v21: cluster quality (simplified silhouette)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v21_cluster_quality",
    survey_ref="training-data (clustering diagnostics)",
    doc="per-cell separation report over v11's assignment: for every "
    "vector, s = (d2−d1)/max(d1,d2) with d1 = distance to its own "
    "centroid and d2 = to the runner-up (the simplified silhouette "
    "that needs only k distances per vector, not O(n) — the full "
    "silhouette's pairwise form is unpayable at corpus scale). "
    "Aggregated per cell: size, mean separation, mean own-distance — "
    "the report that decides whether d8/IVF's k needs retraining. "
    "Same broadcast k×dim cross + per-vector window as v11, one "
    "tiny per-cell agg; exactly SQL-replayable via v11's ranked CTE.",
    oracle="WITH "
    + _assign_sql("embeddings")
    + """
        , both_d AS (
            SELECT vec_id,
                   MAX(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
                   MAX(CASE WHEN rn = 1 THEN dist END) AS d1,
                   MAX(CASE WHEN rn = 2 THEN dist END) AS d2
            FROM ranked WHERE rn <= 2 GROUP BY vec_id
        )
        SELECT cell_id,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(AVG(CASE WHEN GREATEST(d1, d2) = 0 THEN 0
                              ELSE (d2 - d1) / GREATEST(d1, d2) END), 4)
                   AS mean_separation,
               ROUND(AVG(d1), 4) AS mean_own_dist
        FROM both_d GROUP BY cell_id
    """,
)
def v21_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    corpus = load_table(spark, "embeddings", sf_dir)
    cen = seed_centroids(corpus)
    scored = (
        corpus.select("vec_id", as_double("embedding").alias("_v"))
        .crossJoin(F.broadcast(cen))
        .select("vec_id", "cell_id", F.round(l2("_v", "centroid"), 4).alias("dist"))
    )
    w = W.partitionBy("vec_id").orderBy("dist", "cell_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    both = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cell_id"))).alias("cell_id"),
        F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
    )
    sep = F.when(F.greatest("d1", "d2") == 0, F.lit(0.0)).otherwise(
        (F.col("d2") - F.col("d1")) / F.greatest("d1", "d2")
    )
    return both.groupBy("cell_id").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.avg(sep), 4).alias("mean_separation"),
        F.round(F.avg("d1"), 4).alias("mean_own_dist"),
    )


# ---------------------------------------------------------------------------
# v11c: unrolled Lloyd trainer with per-round rounding (hash-oracled)
# ---------------------------------------------------------------------------

_V11C_ROUNDS = 2
_V11C_DP = 6  # centroid rounding per round — what makes the unroll replayable


def _v11c_round_sql(prev_cen: str, idx: int) -> str:
    """One Lloyd round in SQL: assign against ``prev_cen`` (rounded-
    distance argmin, v11's rule), then per-(cell, dim) rounded means
    re-assembled into centroid arrays, empty cells carrying forward."""
    return f"""
        sc{idx} AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.centroid), 4) AS dist
            FROM embeddings e CROSS JOIN {prev_cen} c
        ), as{idx} AS (
            SELECT vec_id, cell_id FROM (
                SELECT vec_id, cell_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
                FROM sc{idx}) WHERE rn = 1
        ), dm{idx} AS (
            SELECT a.cell_id,
                   GENERATE_SUBSCRIPTS(CAST(e.embedding AS DOUBLE[]), 1) - 1 AS dim_i,
                   UNNEST(CAST(e.embedding AS DOUBLE[])) AS x
            FROM as{idx} a JOIN embeddings e ON e.vec_id = a.vec_id
        ), mm{idx} AS (
            SELECT cell_id, dim_i, ROUND(AVG(x), {_V11C_DP}) AS m
            FROM dm{idx} GROUP BY cell_id, dim_i
        ), nc{idx} AS (
            SELECT cell_id, LIST(m ORDER BY dim_i) AS centroid
            FROM mm{idx} GROUP BY cell_id
        ), cen{idx} AS (
            SELECT p.cell_id, COALESCE(n.centroid, p.centroid) AS centroid
            FROM {prev_cen} p LEFT JOIN nc{idx} n ON p.cell_id = n.cell_id
        )"""


@REGISTRY.register(
    name="v11c_kmeans_unrolled",
    survey_ref="training-data (clustering); upgrades v11b's evidence tier",
    doc=f"{_V11C_ROUNDS}-round Lloyd k-means (k={KMEANS_K}) with "
    f"centroids rounded to {_V11C_DP} decimals per round — the "
    "quantization that turns the iterative trainer into a fixed "
    "SQL-replayable unroll (g1/g2's per-iteration-rounding "
    "discipline), so clustering TRAINING is hash-checked end-to-end, "
    "not just the single assignment step (v11) or rows-only "
    "invariants (v11b). Output: per-cell size + rounded inertia "
    "after the final assignment. Same distributed plan as v11b.",
    oracle=f"""
        WITH cen0 AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM embeddings WHERE vec_id < {KMEANS_K}
        ), {_v11c_round_sql("cen0", 1)[9:]}
        , {_v11c_round_sql("cen1", 2)[9:]}
        , fsc AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.centroid), 4) AS dist
            FROM embeddings e CROSS JOIN cen2 c
        ), fas AS (
            SELECT vec_id, cell_id, dist FROM (
                SELECT vec_id, cell_id, dist,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
                FROM fsc) WHERE rn = 1
        )
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(SUM(dist * dist), 2) AS inertia
        FROM fas GROUP BY cell_id
    """,
)
def v11c_kmeans_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    centroids = kmeans_train(corpus, n_iter=_V11C_ROUNDS, round_dp=_V11C_DP)
    final = kmeans_assign(corpus, centroids)
    return final.groupBy(F.col("cell_id").cast("bigint").alias("cell_id")).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.sum(F.col("dist") * F.col("dist")), 2).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# v12b: top principal component by power iteration (hash-oracled)
# ---------------------------------------------------------------------------

_PI_ROUNDS = 3
_PI_DP = 6


def _pi_round_sql(prev: str, idx: int) -> str:
    """One power-iteration round in SQL: matvec w = C·v, then
    normalization, ROUNDING ONLY the normalized vector. Rounding w or
    the norm would quantize values whose sums land EXACTLY on rounding
    ties (quantized cv × dyadic v), where Spark (HALF_UP) and DuckDB
    (HALF_EVEN) disagree; dividing by the irrational norm first makes
    the rounded quantity generic, so ties never occur."""
    return f"""
        w{idx} AS (
            SELECT c.i AS dim_i, SUM(c.cv * v.val) AS w
            FROM cov c JOIN {prev} v ON v.dim_i = c.j
            GROUP BY c.i
        ), n{idx} AS (
            SELECT SQRT(SUM(w * w)) AS nrm FROM w{idx}
        ), v{idx} AS (
            SELECT dim_i, ROUND(w / (SELECT nrm FROM n{idx}), {_PI_DP}) AS val
            FROM w{idx}
        )"""


@REGISTRY.register(
    name="v12b_power_iteration",
    survey_ref="training-data (dimensionality reduction); upgrades v12's evidence tier",
    doc=f"top principal component by {_PI_ROUNDS}-round power iteration "
    "over the ROUNDED covariance matrix, every matvec and "
    "normalization rounded per round — v11c's quantized-unroll "
    "discipline applied to the eigenproblem, so the PCA core is "
    "hash-checked in SQL instead of trusted to a driver eigensolver "
    "(v12 stays the production path; this pins its arithmetic). "
    "Sign fixed by the first component. The covariance build is the "
    "standard distributed shape — per-vector outer-product partials "
    "summed into a dim²-bounded table (the ONLY quadratic term is "
    "dim², never rows); each matvec is a dim²-row join. Output: the "
    "64 eigenvector components + the Rayleigh quotient (top "
    "eigenvalue estimate). The fixture embeddings are near-isotropic "
    "(flat spectrum — 3 rounds can't separate eigenvectors, and any "
    "claimed convergence would be vacuous), so a rank-1 spike is "
    "planted: vec_id%5==0 vectors shift +0.5 on dim 0, making e0 "
    "dominant — the test pins that the iteration actually recovers "
    "it against numpy's exact eigendecomposition.",
    oracle=f"""
        WITH spiked AS (
            SELECT vec_id,
                   CASE WHEN vec_id % 5 = 0
                        THEN LIST_CONCAT([CAST(embedding[1] AS DOUBLE) + 0.5],
                                         CAST(embedding[2:] AS DOUBLE[]))
                        ELSE CAST(embedding AS DOUBLE[]) END AS embedding
            FROM embeddings
        ), dims AS (
            SELECT vec_id,
                   GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim_i,
                   UNNEST(embedding) AS x
            FROM spiked
        ), mu AS (
            SELECT dim_i, ROUND(AVG(x), 6) AS m FROM dims GROUP BY dim_i
        ), centered AS (
            SELECT d.vec_id, d.dim_i, d.x - m.m AS x
            FROM dims d JOIN mu m ON m.dim_i = d.dim_i
        ), cov AS (
            SELECT a.dim_i AS i, b.dim_i AS j,
                   ROUND(SUM(a.x * b.x) / (SELECT COUNT(DISTINCT vec_id) FROM dims),
                         {_PI_DP}) AS cv
            FROM centered a JOIN centered b ON a.vec_id = b.vec_id
            GROUP BY a.dim_i, b.dim_i
        ), v0 AS (
            SELECT dim_i, ROUND(1.0 / SQRT(COUNT(*) OVER ()), {_PI_DP}) AS val
            FROM mu
        ), {_pi_round_sql("v0", 1)[9:]}
        , {_pi_round_sql("v1", 2)[9:]}
        , {_pi_round_sql("v2", 3)[9:]}
        , signfix AS (
            SELECT CASE WHEN (SELECT val FROM v3 WHERE dim_i = 0) < 0
                        THEN -1.0 ELSE 1.0 END AS s
        ), rayleigh AS (
            SELECT ROUND(SUM(v.val * c.cv * u.val), 4) AS lam
            FROM v3 v JOIN cov c ON c.i = v.dim_i JOIN v3 u ON u.dim_i = c.j
        )
        SELECT v.dim_i,
               ROUND(v.val * f.s, {_PI_DP}) AS pc1,
               r.lam AS eigenvalue
        FROM v3 v CROSS JOIN signfix f CROSS JOIN rayleigh r
    """,
)
def v12b_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 5 == 0,
            F.transform(
                as_double("embedding"),
                lambda x, i: F.when(i == 0, x + F.lit(0.5)).otherwise(x),
            ),
        )
        .otherwise(as_double("embedding"))
        .alias("embedding"),
    )
    dims = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim_i", "x")
    )
    mu = dims.groupBy("dim_i").agg(F.round(F.avg("x"), _PI_DP).alias("m"))
    centered = dims.join(F.broadcast(mu), "dim_i").select(
        "vec_id", "dim_i", (F.col("x") - F.col("m")).alias("x")
    )
    n_vec = emb.count()
    a = centered.alias("a")
    b = centered.alias("b")
    cov = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.dim_i").alias("i"), F.col("b.dim_i").alias("j"))
        .agg(F.round(F.sum(F.col("a.x") * F.col("b.x")) / n_vec, _PI_DP).alias("cv"))
        .transform(persist_once)
    )
    dim = mu.count()
    v = mu.select(
        "dim_i", F.round(F.lit(1.0 / dim**0.5), _PI_DP).alias("val")
    )
    for _ in range(_PI_ROUNDS):
        w = (
            cov.join(F.broadcast(v), F.col("dim_i") == F.col("j"))
            .groupBy(F.col("i").alias("wdim"))
            .agg(F.sum(F.col("cv") * F.col("val")).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                F.col("wdim").alias("dim_i"),
                F.round(F.col("w") / F.col("nrm"), _PI_DP).alias("val"),
            )
            .localCheckpoint(eager=True)
        )
    s = v.filter(F.col("dim_i") == 0).select(
        F.when(F.col("val") < 0, -1.0).otherwise(1.0).alias("s")
    )
    u1, u2 = v.alias("u1"), v.alias("u2")
    rayleigh = (
        cov.join(F.broadcast(u1), F.col("u1.dim_i") == F.col("i"))
        .join(F.broadcast(u2), F.col("u2.dim_i") == F.col("j"))
        .agg(F.round(F.sum(F.col("u1.val") * F.col("cv") * F.col("u2.val")), 4).alias("lam"))
    )
    return (
        v.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(rayleigh))
        .select(
            "dim_i",
            F.round(F.col("val") * F.col("s"), _PI_DP).alias("pc1"),
            F.col("lam").alias("eigenvalue"),
        )
    )


# ---------------------------------------------------------------------------
# v34: cluster-label NMI (external validation; v21 is the internal one)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v34_cluster_label_nmi",
    survey_ref="training-data (clustering eval, external); v21 scores "
    "GEOMETRY (silhouette-style) — NMI scores agreement with labels "
    "the geometry never saw, the metric that says whether clusters "
    "mean anything",
    doc="normalized mutual information between v11's deterministic "
    "k-means cells and the embeddings' labels: I(C;L) from the "
    "(cell, label) contingency, normalized by the arithmetic mean "
    "of the entropies — 0 ≈ independent (expected on this isotropic "
    "fixture: labels carry no geometric signal, v24's premise — the "
    "near-zero readout is itself pinned as a ≤0.1 verdict), 1 = "
    "clusters reproduce labels. One (cell, label)-keyed partial agg "
    "over the assignment (contingency is k×|labels|, bounded); "
    "entropies and MI are closed-form sums over that table.",
    oracle="WITH "
    + _assign_sql("embeddings")
    + """
        , assign AS (
            SELECT r.vec_id, r.cell_id, e.label
            FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
            WHERE r.rn = 1
        ), n AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM assign
        ), joint AS (
            SELECT cell_id, label, CAST(COUNT(*) AS DOUBLE) AS nij
            FROM assign GROUP BY cell_id, label
        ), pc AS (
            SELECT cell_id, SUM(nij) AS ni FROM joint GROUP BY cell_id
        ), pl AS (
            SELECT label, SUM(nij) AS nj FROM joint GROUP BY label
        ), mi AS (
            SELECT SUM(j.nij / n.nt
                       * LN(j.nij * n.nt / (c.ni * l.nj))) AS i_cl
            FROM joint j
            JOIN pc c USING (cell_id)
            JOIN pl l USING (label)
            CROSS JOIN n
        ), ents AS (
            SELECT (SELECT -SUM(ni / nt * LN(ni / nt))
                    FROM pc CROSS JOIN n) AS h_c,
                   (SELECT -SUM(nj / nt * LN(nj / nt))
                    FROM pl CROSS JOIN n) AS h_l
        )
        SELECT ROUND(m.i_cl, 6) AS mutual_information,
               ROUND(e.h_c, 6) AS h_clusters,
               ROUND(e.h_l, 6) AS h_labels,
               ROUND(m.i_cl / ((e.h_c + e.h_l) / 2.0), 6) AS nmi,
               m.i_cl / ((e.h_c + e.h_l) / 2.0) <= 0.1
                   AS independent_as_expected
        FROM mi m CROSS JOIN ents e
    """,
)
def v34_cluster_label_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    assign = kmeans_assign(corpus, seed_centroids(corpus)).select(
        "vec_id", "cell_id"
    )
    # joint feeds n/pc/pl/mi — four consumers that would each re-run
    # the corpus-sized k-means assignment (fanout_audit: 24 embeddings
    # scans unpersisted); the contingency table is cells×labels rows
    joint = (
        assign.join(corpus.select("vec_id", "label"), "vec_id")
        .groupBy("cell_id", "label")
        .agg(F.count("*").cast("double").alias("nij"))
        .transform(persist_once)
    )
    n = joint.agg(F.sum("nij").alias("nt"))
    pc = joint.groupBy("cell_id").agg(F.sum("nij").alias("ni"))
    pl = joint.groupBy("label").agg(F.sum("nij").alias("nj"))
    mi = (
        joint.join(F.broadcast(pc), "cell_id")
        .join(F.broadcast(pl), "label")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                F.col("nij")
                / F.col("nt")
                * F.log(F.col("nij") * F.col("nt") / (F.col("ni") * F.col("nj")))
            ).alias("i_cl")
        )
    )
    h_c = pc.crossJoin(F.broadcast(n)).agg(
        (-F.sum(F.col("ni") / F.col("nt") * F.log(F.col("ni") / F.col("nt")))).alias(
            "h_c"
        )
    )
    h_l = pl.crossJoin(F.broadcast(n)).agg(
        (-F.sum(F.col("nj") / F.col("nt") * F.log(F.col("nj") / F.col("nt")))).alias(
            "h_l"
        )
    )
    nmi = F.col("i_cl") / ((F.col("h_c") + F.col("h_l")) / 2.0)
    return (
        mi.crossJoin(F.broadcast(h_c))
        .crossJoin(F.broadcast(h_l))
        .select(
            F.round("i_cl", 6).alias("mutual_information"),
            F.round("h_c", 6).alias("h_clusters"),
            F.round("h_l", 6).alias("h_labels"),
            F.round(nmi, 6).alias("nmi"),
            (nmi <= 0.1).alias("independent_as_expected"),
        )
    )


@REGISTRY.register(
    name="v36_two_level_assign",
    survey_ref="training-data (clustering at corpus-sized k; d8's >1M-vector assignment path)",
    doc="two-level seeded centroid assignment over the embeddings "
    "corpus at d8's corpus-derived k: ~3N√k distance evaluations "
    "(2-probe coarse route + fine argmin within the probed groups) "
    "instead of brute N×k. Measured honestly: at bench SFs brute "
    "wins (vectorized map-side arithmetic beats the extra shuffles — "
    "0.6 s vs 1.6 s at sf0.1), so d8 keeps brute; past ~1M vectors "
    "the N×k flops dominate and THIS is the assignment d8 switches "
    "to — shipped here as its own hash-oracled query so the scale "
    "path is verified, not vaporware. The unit test pins its "
    "agreement with brute-force assignment.",
    oracle="WITH "
    + _assign2_sql("embeddings", k_sql=_SEMDEDUP_K_SQL)
    + """
        SELECT vec_id, CAST(cell_id AS BIGINT) AS cell_id
        FROM ranked WHERE rn = 1
    """,
)
def v36_two_level_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, "embeddings", sf_dir)
    k = max(KMEANS_K, math.ceil(emb.count() / SEMDEDUP_CELL))
    return two_level_assign(emb, k).select(
        "vec_id", F.col("cell_id").cast("bigint").alias("cell_id")
    )
