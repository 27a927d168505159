"""Index-lifecycle pipeline: drift gate branches, retrain restores recall.

Covers r4 verdict #6: v16 drift alarm → kmeans retrain →
upsert_vector_index composed as pipeline_index_maintenance.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR

IDX = "maint_test_index"


def _halves(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    half = (corpus.agg(F.max("vec_id")).first()[0] + 1) / 2
    return (
        corpus.filter(F.col("vec_id") < half),
        corpus.filter(F.col("vec_id") >= half),
    )


def _report(df):
    return {r["step"]: (r["action"], r["value"]) for r in df.collect()}


def test_clean_batch_takes_upsert_path(spark):
    """No drift between fixture halves → the O(batch) upsert branch;
    the refreshed index covers every vector exactly once."""
    from ai_iceberg_demo_spark.pipeline.index_maintenance import index_maintenance

    base, batch = _halves(spark)
    rep = _report(index_maintenance(base, batch, name=IDX))
    assert rep[2][1] == 0  # n_drifted_dims
    assert rep[3][0] == "upsert"
    assert rep[3][1] == batch.count()
    idx = spark.table(IDX)
    assert idx.select("vec_id").distinct().count() == base.count() + batch.count()
    assert idx.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_drifted_batch_retrains_and_recall_is_restored(spark):
    """A +1.0 shift on dim 0 (≫ 3σ for unit-norm components) must fire
    the gate and take the retrain branch; afterwards an IVF probe at
    n_probe=n_cells reproduces exact brute-force top-3 over the
    shifted corpus (recall 1.0 — the exactness contract the
    pipeline_interactive routing rests on), and the retrained
    centroids have moved into the shifted mass."""
    from ai_iceberg_demo_spark.pipeline.index_maintenance import (
        MAINT_CELLS,
        index_maintenance,
    )
    from ai_iceberg_demo_spark.vector.similarity import (
        cosine,
        ivf_candidate_pairs,
    )

    base, batch = _halves(spark)
    shifted = batch.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(1.0)).otherwise(x),
        ).alias("embedding"),
    )
    rep = _report(index_maintenance(base, shifted, name=IDX))
    assert rep[2][1] > 0
    assert rep[3][0] == "retrain"

    full = base.unionByName(shifted)
    assert (
        spark.table(IDX).select("vec_id").distinct().count() == full.count()
    )
    # retrained centroids cover the shifted mass: at least one centroid
    # mean on dim 0 sits far above the base distribution
    cen0 = [
        r["c0"]
        for r in spark.table(f"{IDX}__centroids")
        .select(F.col("centroid")[0].alias("c0"))
        .collect()
    ]
    assert max(cen0) > 0.5

    probes = (
        full.filter(F.col("vec_id") % 97 == 0)
        .limit(5)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    pairs = ivf_candidate_pairs(
        spark.table(IDX),
        spark.table(f"{IDX}__centroids"),
        probes,
        n_probe=MAINT_CELLS,
    )
    got_rows = (
        pairs.join(F.broadcast(probes), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", F.round(cosine("embedding", "qv"), 6).alias("s")
        )
        .collect()
    )
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r["qid"], []).append((-r["s"], r["vec_id"]))
    got = {q: [v for _, v in sorted(rows)[:3]] for q, rows in by_q.items()}

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=float) for r in full.collect()
    }
    hits = total = 0
    for r in probes.collect():
        q = r["qid"]
        qv = np.array(r["qv"], dtype=float)
        scores = sorted(
            (
                (-round(float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv))), 6), i)
                for i, v in emb.items()
                if i != q
            )
        )
        want = [i for _, i in scores[:3]]
        hits += len(set(want) & set(got.get(q, [])))
        total += 3
    assert hits == total  # n_probe == n_cells → exact


def test_index_lifecycle_stream_equals_batch(spark, tmp_path):
    """r6 verdict #6: the drift-gate + upsert leg of the index
    lifecycle run under foreachBatch (arrivals as 2 micro-batches) must
    leave BIT-IDENTICAL index tables to the one-shot batch build —
    assignment rows, centroids, and table properties. Clean fixture halves → every
    micro-batch takes the no-drift upsert branch, same as the one-shot
    decision."""
    import os

    from ai_iceberg_demo_spark.facade import VectorRAG, index_properties
    from ai_iceberg_demo_spark.streaming.incremental import stage_batch_files
    from ai_iceberg_demo_spark.vector.clustering import drift_zscores

    base, arrivals = _halves(spark)
    ONE, LIVE = "maint_idx_oneshot", "maint_idx_streamed"

    # one-shot: index base, single upsert of the full arrival set
    rag1 = VectorRAG(base, base)
    rag1.drop_vector_index(ONE)
    rag1.create_vector_index(ONE, kind="ivf", n_cells=8, n_probe=4, n_iter=2)
    assert (drift_zscores(base, arrivals).agg(F.sum("drifted")).first()[0] or 0) == 0
    assert rag1.upsert_vector_index(arrivals, ONE) == arrivals.count()

    # streamed: same base index; arrivals replayed as 2 micro-batches,
    # each gated then upserted inside foreachBatch
    rag2 = VectorRAG(base, base)
    rag2.drop_vector_index(LIVE)
    rag2.create_vector_index(LIVE, kind="ivf", n_cells=8, n_probe=4, n_iter=2)
    batches = [arrivals.filter(F.col("vec_id") % 2 == i) for i in (0, 1)]
    ingest = stage_batch_files(str(tmp_path), batches)
    decisions = []

    def handle(bdf, _bid):
        n_drifted = int(drift_zscores(base, bdf).agg(F.sum("drifted")).first()[0] or 0)
        decisions.append(n_drifted)
        if n_drifted == 0:  # the gate: retrain would go here
            rag2.upsert_vector_index(bdf, LIVE)

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination(600)

    assert decisions == [0, 0]  # both micro-batches took the upsert branch
    for suffix in ("", "__centroids"):
        a, b = spark.table(ONE + suffix), spark.table(LIVE + suffix)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, suffix
    assert index_properties(spark, ONE) == index_properties(spark, LIVE)
    n_all = base.count() + arrivals.count()
    assert spark.table(LIVE).select("vec_id").distinct().count() == n_all
