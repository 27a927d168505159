"""Round-9 operator pins: d9b canonical-at-scale invariants beyond the
hash oracle (the oracle proves engine≡DuckDB; these prove the planted
fixture actually exercises every tier)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR


def _q(name):
    return all_registries().specs[name].fn


def test_d9b_every_footer_twin_clusters_with_its_original(spark):
    """The salted footer twins (doc_id + 2e6, every 30th sampled doc)
    must each land in the SAME component as their original — i.e. the
    band tier recalled them AND the verify tier passed them. A twin in
    its own singleton cluster would mean the banded candidate path
    silently lost recall vs d9's exact tier."""
    from ai_iceberg_demo_spark.vector.dedup import _TWIN_DOC_OFFSET

    out = _q("d9b_canonical_at_scale")(spark, SF_DIR)
    # components are keyed by min member id; a twin's component must be
    # its original's id (original < twin by construction), so NO
    # component_id may sit in the twin id range
    twin_led = out.filter(F.col("component_id") >= _TWIN_DOC_OFFSET).count()
    assert twin_led == 0, f"{twin_led} components led by a planted twin"
    n_comp = out.count()
    assert n_comp > 0, "no clusters found — twin salting not firing"
    # every component here has >= 2 members (components only include
    # docs with at least one verified pair)
    solo = out.filter(F.col("n_members") < 2).count()
    assert solo == 0


def test_d28b_audit_has_paths_and_sane_counts(spark):
    """The banded transitivity audit must have real length-2 paths to
    judge (the twin-pair fixture bug made n_paths2 = 0) and internally
    consistent counts."""
    row = _q("d28b_transitivity_at_scale")(spark, SF_DIR).collect()[0]
    assert row["n_paths2"] > 0, "no length-2 paths — twin triangles not firing"
    assert row["n_edges"] > 0
    assert 0 <= row["n_closed"] <= row["n_paths2"]
    unrounded_rate = 1.0 - row["n_closed"] / row["n_paths2"]
    assert row["violation_rate"] == round(unrounded_rate, 4)
    # the query derives the flag from the UNROUNDED rate — compare
    # against the same quantity, not the rounded column (a true rate in
    # [0.19995, 0.2) would otherwise fail on correct output)
    assert row["single_linkage_safe"] == (unrounded_rate < 0.2)


def test_d9b_kept_id_is_argmax_quality(spark):
    """Recompute quality independently and check each cluster's kept_id
    is the (quality DESC, doc_id ASC) argmax over its members."""
    from ai_iceberg_demo_spark.functions.text import quality_score
    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.dedup import salt_doc_twins

    out = _q("d9b_canonical_at_scale")(spark, SF_DIR).collect()
    docs = salt_doc_twins(
        load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") % 10 == 0)
    )
    q = {
        r["doc_id"]: r["quality"]
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("quality")
        ).collect()
    }
    for row in out:
        kept_q = q[row["kept_id"]]
        assert round(kept_q, 6) == row["best_quality"]
