"""Dedup verify and rewrite operators (the shingle-Jaccard builders, d2b,
d10, d11, d12): invariants the oracle can't see."""

from __future__ import annotations

from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR


def test_d2b_is_sound_subset_of_d2(spark):
    """LSH-seeded verify (d2b) never invents a pair: every natural
    pair it emits appears in the exact all-pairs d2 with the identical
    jaccard; every salted-twin pair links a twin to its own original
    with jaccard ≥ the 0.8 gate; and high-sim exact pairs inside the
    sample survive the LSH seeding."""
    from ai_iceberg_demo_spark.vector.dedup import d2_ngram_jaccard, d2b_lsh_seeded_jaccard

    TWIN = 1_000_000
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in d2_ngram_jaccard(spark, SF_DIR).collect()
    }
    seeded = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in d2b_lsh_seeded_jaccard(spark, SF_DIR).collect()
    }
    assert seeded, "salted twins must produce verified pairs"
    twin_pairs = {p: j for p, j in seeded.items() if p[1] >= TWIN}
    natural = {p: j for p, j in seeded.items() if p[1] < TWIN}
    assert twin_pairs, "at least one twin must collide and verify"
    for (a, b), jac in twin_pairs.items():
        # a twin matches its own original, a natural near-dup of its
        # original, or the twin of such a near-dup — never a stranger
        oa, ob = a % TWIN, b % TWIN
        assert oa == ob or (min(oa, ob), max(oa, ob)) in exact, (a, b)
        assert jac >= 0.8
    # and every twin that surfaced at all did link back to its original
    for b in {b for _, b in twin_pairs}:
        assert (b - TWIN, b) in twin_pairs
    for pair, jac in natural.items():
        assert pair in exact and exact[pair] == jac
    # recall: high-sim exact pairs whose both ends are in the 1-in-10
    # sample must collide in at least one band (vacuous if none exist
    # at this SF — the twins above are the guaranteed-recall probe)
    high = {
        p for p, j in exact.items() if j >= 0.95 and p[0] % 10 == 0 and p[1] % 10 == 0
    }
    assert high <= set(natural) | set(twin_pairs)


def test_pair_overlaps_match_all_overlaps_on_band_candidates(spark):
    """The candidate verify and the all-pairs tier agree: on d3's
    sample, pair_overlaps(band_pairs(bands), sh) is all_overlaps(sh)
    restricted to the band candidates, on (n_inter, na, nb)."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.dedup import (
        all_overlaps,
        band_pairs,
        minhash_bands,
        pair_overlaps,
        salt_doc_twins,
        shingle_sets,
    )

    docs = salt_doc_twins(
        load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") % 10 == 0)
    )
    sh = shingle_sets(docs)
    cands = band_pairs(minhash_bands(docs))
    cols = ["a_id", "b_id", "n_inter", "na", "nb"]
    got = sorted(tuple(r) for r in pair_overlaps(cands, sh).select(cols).collect())
    want = sorted(
        tuple(r)
        for r in all_overlaps(sh).join(cands, ["a_id", "b_id"], "left_semi").select(cols).collect()
    )
    assert got, "planted twins must collide and overlap"
    assert got == want


def test_dedup_queries_call_no_registered_query():
    """Composite queries build their substrate through shared builders
    (the shingle/band builders, the eval sample, the events family's
    frames, the sampling family's token frame, the mutation, storage
    and governance parts' table-taking builders) and pass it in,
    instead of calling another registered query through its
    (spark, sf_dir) function and relying on CacheManager to match the
    plan. No registered query in any registry module calls another."""
    import ast
    import importlib
    import inspect

    specs = all_registries().specs.values()
    registered = {s.fn.__name__ for s in specs}
    callers = {}
    for mod_name in sorted({s.fn.__module__ for s in specs}):
        tree = ast.parse(inspect.getsource(importlib.import_module(mod_name)))
        for fn in ast.walk(tree):
            if not (isinstance(fn, ast.FunctionDef) and fn.name in registered):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    callee = getattr(node.func, "id", getattr(node.func, "attr", None))
                    if callee in registered and callee != fn.name:
                        callers.setdefault(fn.name, set()).add(callee)
    assert callers == {}


def test_exact_substring_removal_invariants(spark):
    """d10: the span-dedup rewrite must (a) fire on the fixture's
    natural cross-doc duplication, (b) keep n_tokens - n_removed
    exactly equal to the cleaned token count, and (c) leave untouched
    docs byte-identical to their originals."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.dedup import d10_exact_substring_removal

    out = d10_exact_substring_removal(spark, SF_DIR)
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, "documents", SF_DIR).collect()}
    rows = out.collect()
    assert len(rows) == len(docs)
    assert any(r["n_removed"] > 0 for r in rows), "no duplication found — fixture changed?"
    for r in rows:
        kept_toks = r["clean_text"].split(" ") if r["clean_text"] else []
        assert len(kept_toks) == r["n_tokens"] - r["n_removed"], r["doc_id"]
        if r["n_removed"] == 0:
            assert r["clean_text"] == docs[r["doc_id"]], r["doc_id"]


def test_d11_overlap_matrix_counts_bounded_by_source_sizes(spark):
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.dedup import d11_source_overlap
    from tests.conftest import SF_DIR

    sizes = {
        r["source"]: r["n"]
        for r in load_table(spark, "documents", SF_DIR)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = d11_source_overlap(spark, SF_DIR).collect()
    assert rows, "fixture corpus must share 8-grams across sources"
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert r["n_shared_grams"] >= 1
        assert 1 <= r["n_docs_a"] <= sizes[r["source_a"]]
        assert 1 <= r["n_docs_b"] <= sizes[r["source_b"]]


def test_containment_finds_planted_containers_and_excludes_jaccard_pairs(spark):
    """Every planted (doc, container) pair must surface with
    containment ≈ 1 in the doc→container direction, and nothing the
    symmetric Jaccard operator already reports may reappear."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.dedup import d12_containment, d2_ngram_jaccard
    from tests.conftest import SF_DIR

    rows = d12_containment(spark, SF_DIR).collect()
    assert rows
    got = {(r["contained_id"], r["container_id"]): r["containment"] for r in rows}
    docs = load_table(spark, "documents", SF_DIR)
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    planted = {d for d in ids if d % 13 == 0 and d + 1 in ids}
    assert planted
    # a planted pair surfaces iff the neighbor is big enough to push
    # the pair's Jaccard under 0.8 (tiny neighbors make the container
    # ≈ the doc itself and the exclusion rightly drops it) — so assert
    # the planted family is well-represented, and every surfaced one
    # shows near-total containment
    surfaced = {d for d in planted if (d, d + 2_000_000) in got}
    assert len(surfaced) >= max(2, len(planted) // 2), (len(surfaced), len(planted))
    for d in surfaced:
        assert got[(d, d + 2_000_000)] > 0.95, d
    jac_pairs = {
        (r["a_id"], r["b_id"])
        for r in d2_ngram_jaccard(spark, SF_DIR).collect()
    }
    overlap = {(a, b) for a, b in got} | {(b, a) for a, b in got}
    assert not (jac_pairs & overlap), "containment must exclude d2's pairs"
