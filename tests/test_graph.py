"""Graph operator invariants the SQL oracle can't see: PageRank mass
conservation, dangling leak and convergence direction; connected
components against union-find, their round and job counts, and their
failure when they do not converge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.operators.graph import (
    DAMPING,
    connected_components,
    pagerank_iterations,
    purchase_edges,
)
from tests.conftest import SF_DIR


def test_pagerank_mass_and_bounds(spark):
    edges = purchase_edges(spark, SF_DIR)
    n_nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select("dst"))
        .distinct()
        .count()
    )
    rank = pagerank_iterations(edges, n_iter=2)
    rows = rank.collect()
    assert len(rows) == n_nodes
    base = (1.0 - DAMPING) / n_nodes
    total = sum(r["rank"] for r in rows)
    # dangling suppliers leak mass: total strictly under 1, but at
    # least the undamped base mass survives
    assert (1.0 - DAMPING) - 1e-6 <= total <= 1.0 + 1e-6
    for r in rows:
        assert r["rank"] >= base - 1e-9
    # suppliers (in-degree > 0) must sit above the floor; customers
    # (no in-edges in the bipartite purchase graph) sit exactly on it
    sup = [r["rank"] for r in rows if r["node"] % 2 == 1]
    cust = [r["rank"] for r in rows if r["node"] % 2 == 0]
    assert min(sup) > base
    assert all(abs(c - base) < 1e-9 for c in cust)


def test_label_propagation_mechanics(spark):
    """g2: every held-out customer with at least one purchase edge gets
    exactly ONE inferred label drawn from the nation alphabet, votes
    are positive, and the result is identical under a different
    partition layout (the determinism the fixed tiebreak buys)."""
    from ai_iceberg_demo_spark.operators.graph import g2_label_propagation
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = g2_label_propagation(spark, SF_DIR).collect()
    assert rows
    preds = {r["c_custkey"]: (r["inferred_nation"], r["votes"]) for r in rows}
    assert len(preds) == len(rows)  # one label per customer

    nations = {
        r["c_nationkey"]
        for r in load_table(spark, "customer", SF_DIR).collect()
    }
    orders = load_table(spark, "orders", SF_DIR)
    held_with_edges = {
        r["o_custkey"]
        for r in orders.select("o_custkey").distinct().collect()
        if r["o_custkey"] % 4 == 0
    }
    assert set(preds) == held_with_edges  # full coverage, nothing extra
    for lab, votes in preds.values():
        assert lab in nations and votes > 0

    again = {r["c_custkey"]: (r["inferred_nation"], r["votes"])
             for r in g2_label_propagation(spark, SF_DIR).collect()}
    assert again == preds


def test_modularity_identities_and_null_model(spark):
    """g5: the ledger must satisfy the graph identities — Σ degree_sum
    = 2m, Σ internal_edges ≤ m, every q_contrib ≤ (e_c/m), modularity
    = Σ rounded contribs and Q near/below zero on this nation-random
    fixture (orders ignore nations, so communities are a null model —
    the dense monthly graph actually scores slightly NEGATIVE, ≈-0.1;
    a homophilous graph would score 0.3+)."""
    from ai_iceberg_demo_spark.operators.graph import (
        _coservice_edges,
        g5_modularity,
    )
    from tests.conftest import SF_DIR

    rows = g5_modularity(spark, SF_DIR).collect()
    assert rows, "graph must be non-empty"
    m = _coservice_edges(spark, SF_DIR).count()
    assert sum(r["degree_sum"] for r in rows) == 2 * m
    assert sum(r["internal_edges"] for r in rows) <= m
    q = round(sum(r["q_contrib"] for r in rows), 6)
    assert all(abs(r["modularity"] - q) < 2e-6 for r in rows)
    assert -0.25 < q < 0.2, q
    for r in rows:
        assert r["n_nodes"] > 0
        assert r["q_contrib"] <= r["internal_edges"] / m + 1e-9


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


_CHAIN_64 = [(i, i + 1) for i in range(100, 163)]


@pytest.mark.parametrize(
    "pairs, max_rounds_used",
    [
        # a 6-node path plus a separate pair: the min must travel 5 hops
        ([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)], 5),
        # a 64-hop path: O(log d) rounds where label propagation needs
        # ~63; log2(64)=6, plus ~2 extra rounds and one to see the
        # fixed point
        (_CHAIN_64, 10),
    ],
    ids=["chain6", "chain64"],
)
def test_cc_labels_chains_by_min_in_log_rounds(spark, pairs, max_rounds_used):
    df = spark.createDataFrame(pairs, "a_id bigint, b_id bigint")
    stats = {}
    got = {r["id"]: r["lbl"] for r in connected_components(df, stats=stats).collect()}
    assert got == _union_find(pairs)
    assert stats["rounds"] <= max_rounds_used, stats


def test_cc_matches_union_find_on_lsh_pairs(spark):
    from ai_iceberg_demo_spark.vector.dedup import d3_minhash_lsh

    pairs_df = d3_minhash_lsh(spark, SF_DIR)
    pairs = [(r["a_id"], r["b_id"]) for r in pairs_df.collect()]
    assert pairs, "fixture should plant near-duplicates"
    expected = _union_find(pairs)
    got = {r["id"]: r["lbl"] for r in connected_components(pairs_df).collect()}
    assert got == expected


def test_cc_empty_pairs_yields_no_components(spark):
    """No candidate pairs -> empty labels; d6's left join then reports
    every doc as its own singleton component."""
    pairs = spark.createDataFrame([], "a_id BIGINT, b_id BIGINT")
    assert connected_components(pairs).count() == 0


def test_cc_ids_near_2_pow_62_do_not_overflow(spark):
    """Under ANSI mode a long sum over these ids overflows; the XOR
    digest cannot."""
    base = 1 << 62
    pairs = [(base + 1, base + 2), (base + 3, base + 2), (base + 10, base + 11)]
    df = spark.createDataFrame(pairs, "a_id bigint, b_id bigint")
    got = {r["id"]: r["lbl"] for r in connected_components(df).collect()}
    assert got == _union_find(pairs)


def test_cc_raises_when_max_rounds_is_exhausted(spark):
    df = spark.createDataFrame(_CHAIN_64, "a_id bigint, b_id bigint")
    with pytest.raises(RuntimeError, match="max_rounds=2"):
        connected_components(df, max_rounds=2)


def test_cc_runs_only_its_checkpoint_jobs(spark):
    """Convergence is read from each round's checkpoint job, so the
    loop runs no probe job: the initial checkpoint plus one per round,
    each a shuffle-map job and a result job."""
    sc = spark.sparkContext
    df = spark.createDataFrame(_CHAIN_64, "a_id bigint, b_id bigint")
    stats = {}
    sc.setJobGroup("cc_jobs", "connected_components on a 64-hop chain")
    try:
        connected_components(df, stats=stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc_jobs")
    assert stats["rounds"] == 7
    assert len(jobs) == 2 * (stats["rounds"] + 1) == 16


def test_g8_components_are_exactly_the_user_chains(spark):
    from ai_iceberg_demo_spark.operators.graph import g8_logstep_components
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    got = {
        r["u"]: r["component_id"]
        for r in g8_logstep_components(spark, SF_DIR).collect()
    }
    truth = {}
    for r in (
        load_table(spark, "events", SF_DIR)
        .filter(F.col("user_id") % 20 == 0)
        .select("event_id", "user_id")
        .collect()
    ):
        truth.setdefault(r["user_id"], []).append(r["event_id"])
    want = {e: min(es) for es in truth.values() for e in es}
    assert got == want


def test_g7_assortativity_is_a_correlation(spark):
    from ai_iceberg_demo_spark.operators.graph import g7_degree_assortativity

    r = g7_degree_assortativity(spark, SF_DIR).toPandas().iloc[0]
    assert -1.0 <= r.assortativity <= 1.0
    assert r.n_edges > 0
    assert bool(r.neutral_as_expected)
