"""Round-11 operator pins: the fixed-unroll logistic-regression
trainer (t108) and the mutual-kNN k-core gate (g10). The hash oracle
proves engine≡DuckDB at the fixture SFs; these pin the SEMANTICS the
hash can't see — factor exactness, training progress, and that the
peel cascade (not just the first sweep) is exercised."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR


def _q(name):
    return all_registries().specs[name].fn


# ---------------------------------------------------------------------------
# t108: logistic-regression quality classifier
# ---------------------------------------------------------------------------


def test_t108_round1_loss_is_ln2_and_training_progresses(spark):
    """Zero-init sigmoid is exactly 0.5 for every row, so round 1's
    (pre-update) log-loss is ln 2 to the rounding digit — a
    closed-form cross-engine pin. The later rounds' loss must then
    DECREASE (the label is a threshold on a feature, so full-batch GD
    on this problem descends monotonically at lr=1)."""
    rows = {r.round: r for r in _q("t108_logreg_quality")(spark, SF_DIR).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].logloss == round(math.log(2.0), 6)
    assert rows[2].logloss < rows[1].logloss
    assert rows[3].logloss < rows[2].logloss


def test_t108_weights_point_the_right_way(spark):
    """y = [n_chars >= 300] and x1 = n_chars/400: the length weight
    must come out positive and be the dominant coordinate; the
    intercept negative (base rate < half at zero features)."""
    last = {r.round: r for r in _q("t108_logreg_quality")(spark, SF_DIR).collect()}[3]
    assert last.w_len > 0
    assert abs(last.w_len) >= abs(last.w_stop)
    assert last.w_intercept < 0


# ---------------------------------------------------------------------------
# g10: k-core peel of the mutual-kNN graph
# ---------------------------------------------------------------------------


def test_g10_cascade_removes_nodes_in_every_unrolled_round(spark):
    """Re-run the peel capturing per-round survivor counts: round 1
    AND rounds 2-3 must each remove nodes — rounds 2+ remove nodes
    ONLY because earlier removals dropped their neighbors' degrees,
    so this pins the cascade, not just the first sweep. (Measured at
    sf0.01: 464 -> 352 -> 311 -> 291.)"""
    from ai_iceberg_demo_spark.operators.graph import _KCORE_K, _KCORE_ROUNDS
    from ai_iceberg_demo_spark.tables import load_table, persist_once
    from ai_iceberg_demo_spark.vector.similarity import knn_graph_capped_det

    emb = load_table(spark, "embeddings", SF_DIR)
    graph = knn_graph_capped_det(emb, k=3).transform(persist_once)
    rev = graph.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = (
        graph.join(rev.hint("merge"), ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    edges = mutual.union(
        mutual.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(persist_once)
    counts = [edges.select("src").distinct().count()]
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        alive = deg.filter(F.col("deg") >= _KCORE_K).select("src")
        edges = (
            edges.join(alive.hint("shuffle_hash"), "src")
            .join(alive.withColumnRenamed("src", "dst").hint("shuffle_hash"), "dst")
            .localCheckpoint(eager=False)
        )
        counts.append(edges.select("src").distinct().count())
    assert all(a > b for a, b in zip(counts, counts[1:])), counts


def test_g10_survivors_have_core_degree_and_match_registered_output(spark):
    """Output sanity against the substrate: every surviving vec_id is
    a mutual-graph node and no reported degree exceeds that node's
    full mutual degree (peeling can only SHRINK neighborhoods). The
    strict degree >= k guarantee holds only at convergence — round
    3's own inducement can drop a survivor below k — so the cascade
    test above, not a degree bound, is the correctness pin."""
    out = _q("g10_kcore")(spark, SF_DIR).collect()
    mut = _q("d26b_mutual_knn_capped")(spark, SF_DIR).collect()
    nodes = {r.vec_a for r in mut} | {r.vec_b for r in mut}
    maxdeg: dict[int, int] = {}
    for r in mut:
        maxdeg[r.vec_a] = maxdeg.get(r.vec_a, 0) + 1
        maxdeg[r.vec_b] = maxdeg.get(r.vec_b, 0) + 1
    assert out
    for r in out:
        assert r.vec_id in nodes
        assert 1 <= r.degree <= maxdeg[r.vec_id]


# ---------------------------------------------------------------------------
# g11: HITS hubs & authorities
# ---------------------------------------------------------------------------


def test_g11_roles_are_bipartite_and_ordered(spark):
    """Authorities must all be suppliers and hubs all customers (the
    purchase graph is bipartite — a role leak means the two update
    directions got crossed); 10 rows per role, scores in (0, 1]
    (post-L2-normalization entries), non-increasing within role."""
    rows = _q("g11_hits")(spark, SF_DIR).collect()
    by_role: dict[str, list] = {}
    for r in rows:
        by_role.setdefault(r.role, []).append(r)
    assert set(by_role) == {"authority", "hub"}
    for role, rs in by_role.items():
        assert 1 <= len(rs) <= 10
        prefix = "s" if role == "authority" else "c"
        for r in rs:
            assert r.node.startswith(prefix), (role, r.node)
            assert 0 < r.score <= 1.0
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_g11_top_authority_is_high_indegree(spark):
    """One HITS round from the uniform start ranks authorities by
    in-degree exactly; round 2 re-weights but the top authority must
    still sit at or above the median supplier in-degree."""
    from ai_iceberg_demo_spark.operators.graph import purchase_edges

    rows = _q("g11_hits")(spark, SF_DIR).collect()
    top_auth = next(r for r in rows if r.role == "authority")
    deg = {
        r.dst: r.cnt
        for r in purchase_edges(spark, SF_DIR)
        .groupBy("dst")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    suppkey = int(top_auth.node[1:])
    top_deg = deg[suppkey * 2 + 1]
    med = sorted(deg.values())[len(deg) // 2]
    assert top_deg >= med, (top_deg, med)


# ---------------------------------------------------------------------------
# t110: Poisson-bootstrap CI
# ---------------------------------------------------------------------------


def test_t110_interval_brackets_the_point_estimate(spark):
    """The 95% percentile interval must be a proper interval around
    the point estimate (lo < hi, lo <= point <= hi) and n_docs must
    match the corpus."""
    from ai_iceberg_demo_spark.tables import load_table

    row = _q("t110_bootstrap_ci")(spark, SF_DIR).collect()[0]
    n = load_table(spark, "documents", SF_DIR).count()
    assert row.n_docs == n
    assert row.boot_lo < row.boot_hi
    assert row.boot_lo <= row.point_mean <= row.boot_hi


def test_t110_poisson_weights_have_unit_mean(spark):
    """The md5 inverse-CDF must actually produce Poisson(1)-ish
    weights: mean within 10% of 1 over corpus x replicates (a wrong
    threshold table would bias every replicate the same way and the
    CI would be silently wrong)."""
    from ai_iceberg_demo_spark.functions.text import _BOOT_B, _POIS_T
    from ai_iceberg_demo_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id")
    m = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w = (
        F.when(m < _POIS_T[0], 0)
        .when(m < _POIS_T[1], 1)
        .when(m < _POIS_T[2], 2)
        .when(m < _POIS_T[3], 3)
        .otherwise(4)
    )
    mean_w = (
        docs.select(F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"), "doc_id")
        .select(w.alias("w"))
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    assert 0.9 < mean_w < 1.1, mean_w


# ---------------------------------------------------------------------------
# t112: pass@k
# ---------------------------------------------------------------------------


def test_t112_pass_at_1_is_exactly_mean_success_rate(spark):
    """pass@1 collapses to c/n per task — recompute independently
    from the raw events and demand exact equality (the estimator's
    product form must reduce to the trivial case)."""
    from ai_iceberg_demo_spark.streaming.events import _PAK_THRESH
    from ai_iceberg_demo_spark.tables import load_table

    rows = {r.k: r for r in _q("t112_pass_at_k")(spark, SF_DIR).collect()}
    ev = load_table(spark, "events", SF_DIR)
    per_task = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("value") >= _PAK_THRESH, 1).otherwise(0)).alias("c"),
        )
        .select(F.round(F.col("c") / F.col("n"), 6).alias("r"))
        .collect()
    )
    expect = round(sum(r.r for r in per_task) / len(per_task) + 0.0, 6)
    assert abs(rows[1].mean_pass_at_k - expect) < 1e-9
    assert rows[1].n_tasks == len(per_task)


def test_t112_monotone_in_k_on_common_tasks(spark):
    """For a fixed task, pass@k is non-decreasing in k; when the
    eligible task sets coincide (same n_tasks), the macro means must
    preserve that order."""
    rows = sorted(_q("t112_pass_at_k")(spark, SF_DIR).collect(), key=lambda r: r.k)
    for a, b in zip(rows, rows[1:]):
        if a.n_tasks == b.n_tasks and a.n_tasks > 0:
            assert b.mean_pass_at_k >= a.mean_pass_at_k - 1e-9


# ---------------------------------------------------------------------------
# x9: cogrouped-map applyInPandas
# ---------------------------------------------------------------------------


def test_x9_cogroup_matches_sql_aggregation(spark):
    """The cogroup seam's per-type means must equal an independent
    Spark-SQL aggregation to the rounding digit — this pins the
    Arrow two-frame batching (each (key, side) arriving WHOLE), not
    just the arithmetic."""
    from ai_iceberg_demo_spark.functions.udf_surface import _X9_SPLIT
    from ai_iceberg_demo_spark.tables import load_table

    rows = {r.event_type: r for r in _q("x9_cogrouped_map_pandas")(spark, SF_DIR).collect()}
    ev = load_table(spark, "events", SF_DIR).filter(F.col("value").isNotNull())
    split = F.lit(_X9_SPLIT).cast("date")
    ref = {
        r.event_type: (r.n, r.m)
        for r in ev.filter(F.col("ts").cast("date") < split)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value") + 0.0, 4).alias("m"))
        .collect()
    }
    assert rows
    for t, r in rows.items():
        n, m = ref.get(t, (0, 0.0))
        assert r.n_ref == n
        assert abs(r.mean_ref - m) < 1e-9
        assert abs(r.mean_shift - round(r.mean_cmp - r.mean_ref + 0.0, 4)) <= 1e-4
