"""API-parity facade: the reference's memory/RAG surface, Spark-backed.

A user of `temporal-community/ai-iceberg-demo` talks to two classes —
`Neo4jMemory` (conversation/message/result CRUD + listing,
`openai_agents/memory/neo4j_memory.py:139-812`) and `Neo4jRAG`
(chunk/index/search/context, `openai_agents/memory/neo4j_rag.py:49-391`).
This module exposes the SAME method names over DataFrames so switching
is a re-import, not a rewrite. Every method is a thin delegation to the
oracle-checked operator that implements its semantics (cited per
method); state is pure — mutators return the new table value, and
persisting it is the caller's `writeTo(...)` (or MERGE INTO on
Iceberg).

Differences by design:
- no sessions/transactions — snapshot isolation comes from the table
  format, not a driver;
- reads return DataFrames (lazy, optimizable), not node objects;
- `verify_connection` checks the SparkSession, not a bolt socket.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.operators.mutations import (
    append_rows,
    insert_if_absent,
    merge_into,
    update_where,
)
from ai_iceberg_demo_spark.tables import release_checkpoint
from ai_iceberg_demo_spark.vector.similarity import cosine_topk


class ConversationMemory:
    """Spark twin of Neo4jMemory over (conversations, messages, results)
    DataFrames. Column contract: conversations(workflow_id, status,
    created_at, ...), messages(workflow_id, sequence, ...),
    results(workflow_id, result_id, ...)."""

    def __init__(self, conversations: DataFrame, messages: DataFrame, results: DataFrame):
        self.conversations = conversations
        self.messages = messages
        self.results = results

    # -- conversation CRUD (neo4j_memory.py:153-305) --------------------

    def create_conversation(self, rows: DataFrame) -> DataFrame:
        """MERGE by workflow_id (neo4j_memory.py:153-198 'MERGE … ON
        CREATE/ON MATCH') — M1."""
        return merge_into(
            self.conversations, rows, ["workflow_id"],
            [c for c in self.conversations.columns if c != "workflow_id"],
        )

    def update_conversation_status(self, workflow_id: str, status: str) -> DataFrame:
        """Point update (neo4j_memory.py:200-233) — M2."""
        return update_where(
            self.conversations,
            F.col("workflow_id") == workflow_id,
            {"status": F.lit(status)},
        )

    def get_conversation(self, workflow_id: str) -> DataFrame:
        """Key lookup (neo4j_memory.py:235-263) — S2."""
        return self.conversations.filter(F.col("workflow_id") == workflow_id)

    def list_conversations(
        self,
        limit: int = 50,
        offset: int = 0,
        after: tuple | None = None,
    ) -> DataFrame:
        """Newest-first page (neo4j_memory.py:265-304) — O1+O3.

        Default route per page depth (r6 verdict "What's wrong #2"):
        - page 1 (``offset == 0``) is a plain top-k —
          TakeOrderedAndProject, no global sort;
        - deeper pages pass ``after=(created_at, workflow_id)`` of the
          previous page's last row and are served by the KEYSET form
          (o3_keyset_pagination): the predicate pushes down to the scan
          and the read is O(page), not O(offset) — o9_pagination_drift
          measured why OFFSET drifts under concurrent inserts;
        - a bare ``offset`` without a cursor (API parity with the
          reference's SKIP/LIMIT) compiles to
          TakeOrderedAndProject(offset+limit) — bounded heap per
          partition, never a single-partition row_number window.
        """
        order = [F.desc("created_at"), F.desc("workflow_id")]
        if after is not None:
            created_at, workflow_id = after
            pred = (F.col("created_at") < F.lit(created_at)) | (
                (F.col("created_at") == F.lit(created_at))
                & (F.col("workflow_id") < F.lit(workflow_id))
            )
            return self.conversations.filter(pred).orderBy(*order).limit(limit)
        page = self.conversations.orderBy(*order)
        if offset:
            page = page.offset(offset)
        return page.limit(limit)

    # -- children (neo4j_memory.py:306-572,690-798) ---------------------

    def add_message(self, rows: DataFrame) -> DataFrame:
        """Append with the next per-conversation sequence (the reference
        reads MAX(sequence)+1, neo4j_memory.py:327-356 — racy there,
        deterministic here: ordered row_number over the batch) — M3+A5."""
        start = self.messages.groupBy("workflow_id").agg(
            F.max("sequence").alias("_max_seq")
        )
        w = Window.partitionBy("workflow_id").orderBy(*rows.columns)
        seqd = (
            rows.join(start, "workflow_id", "left")
            .withColumn(
                "sequence",
                F.coalesce(F.col("_max_seq"), F.lit(0)) + F.row_number().over(w),
            )
            .drop("_max_seq")
        )
        return append_rows(self.messages, seqd)

    def add_result(self, rows: DataFrame) -> DataFrame:
        """Append result rows (neo4j_memory.py:433-572) — M3."""
        return append_rows(self.results, rows)

    def link_existing_result(self, links: DataFrame) -> DataFrame:
        """Idempotent link-don't-copy (neo4j_memory.py:574-688) — M4:
        only (workflow_id, result_id) pairs not already present insert."""
        return insert_if_absent(self.results, links, ["workflow_id", "result_id"])

    def get_messages(self, workflow_id: str, limit: int | None = None) -> DataFrame:
        """Ordered replay (neo4j_memory.py:690-752) — O2."""
        out = self.messages.filter(F.col("workflow_id") == workflow_id).orderBy("sequence")
        return out.limit(limit) if limit is not None else out

    def get_results(self, workflow_id: str | None = None) -> DataFrame:
        """Scan, optionally filtered (neo4j_memory.py:754-798) — S1/S3."""
        if workflow_id is None:
            return self.results
        return self.results.filter(F.col("workflow_id") == workflow_id)

    def verify_connection(self) -> bool:
        return self.conversations.sparkSession is not None


#: Table property ``delete_vectors`` sets on an index before its first
#: tombstone append; ``index_rows`` anti-joins the tombstones only when
#: it is set.
HAS_TOMBSTONES = "has_tombstones"


def _index_properties(spark: SparkSession, name: str) -> tuple[str, dict, bool]:
    """``(kind, params, has_tombstones)`` from the table properties of
    index ``name`` (``index_properties``)."""
    if not spark.catalog.tableExists(name):
        raise ValueError(f"vector index {name!r} does not exist — create_vector_index first")
    props = {r["key"]: r["value"] for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()}
    tombstoned = props.pop(HAS_TOMBSTONES, None) == "true"
    return props.pop("kind"), {k: int(v) for k, v in props.items()}, tombstoned


def index_properties(spark: SparkSession, name: str) -> tuple[str, dict]:
    """``(kind, params)`` of index ``name``, as ``create_vector_index``
    stored them in its table properties: lsh params are
    ``build_lsh_index``'s keywords (n_tables, n_planes, seed, dim), ivf
    params n_cells, n_probe, n_iter and dim. ``SHOW TBLPROPERTIES``
    reads the catalog and runs no job. Raises ValueError when the index
    does not exist — checked first, since a missing table would log a
    Java stack trace."""
    kind, params, _ = _index_properties(spark, name)
    return kind, params


def index_rows(spark: SparkSession, index: str) -> tuple[DataFrame, str, dict]:
    """``(live_rows, kind, params)`` of index ``index``: every reader of
    an index (the facade's search, ``pipeline_interactive``) reads its
    rows here, so a soft-deleted id (``delete_vectors``) is gone from
    every read path. The live rows are the index table anti-joined with
    a broadcast of ``{index}__tombstones``; while the index's
    ``has_tombstones`` property is unset no id was ever deleted, and
    the rows are the table itself — no broadcast job."""
    kind, params, tombstoned = _index_properties(spark, index)
    rows = spark.table(index)
    if tombstoned:
        rows = rows.join(F.broadcast(spark.table(f"{index}__tombstones")), "vec_id", "left_anti")
    return rows, kind, params


def _insert(table: str, rows: DataFrame) -> None:
    """Append a driver-sized batch of ``rows`` with ``INSERT INTO … BY
    NAME``, so the write takes the table's own bucketing, in ONE write
    task: a local relation scans as one partition per row up to the
    core count, and each partition would write its own file (a 4-id
    tombstone batch: 4 files, which every later search lists and
    reads)."""
    rows.sparkSession.sql(f"INSERT INTO {table} BY NAME SELECT * FROM {{rows}}", rows=rows.coalesce(1))


def _in_list(col: str, values: list) -> Column:
    """``col IN (v1, …)`` as one parsed expression (one py4j call,
    where ``Column.isin`` pays one per value)."""
    return F.expr(f"{col} IN ({', '.join(map(str, values))})")


class VectorRAG:
    """Spark twin of Neo4jRAG over an embeddings DataFrame
    (vec_id, embedding) + a documents DataFrame (doc_id, text)."""

    def __init__(self, embeddings: DataFrame, documents: DataFrame):
        self.embeddings = embeddings
        self.documents = documents

    def chunk_text(self) -> DataFrame:
        """1000/200 sliding chunks (neo4j_rag.py:94-118) — V2."""
        from ai_iceberg_demo_spark.functions.text import CHUNK_SIZE, chunk_starts

        return self.documents.select(
            "doc_id",
            "text",
            F.posexplode(chunk_starts(F.col("text"))).alias("chunk_idx", "start"),
        ).select(
            "doc_id",
            "chunk_idx",
            F.substring(F.col("text"), F.col("start") + 1, CHUNK_SIZE).alias("chunk"),
        )

    def index_result_node(self) -> DataFrame:
        """Embed documents for indexing (neo4j_rag.py:163-214) — V1/V6;
        MERGE the output onto the corpus table to persist."""
        from ai_iceberg_demo_spark.functions.embedding import index_documents

        return index_documents(self.documents)

    def create_vector_index(
        self,
        name: str = "result_embeddings_index",
        kind: str = "lsh",
        n_tables: int = 8,
        n_planes: int = 4,
        seed: int = 42,
        dim: int = 64,
        n_cells: int = 16,
        n_probe: int = 4,
        n_iter: int = 2,
        qa_norm_z: float | None = None,
    ) -> bool:
        """M5: ``CREATE VECTOR INDEX IF NOT EXISTS`` (neo4j_rag.py:144-157).

        Two index kinds, both persisted as one catalog table clustered
        by its probe key, its parameters stored as table properties
        (``index_properties``) so probes rebuild identical parameters,
        plus an empty ``{name}__tombstones`` table for ``delete_vectors``:

        - ``lsh``: random-hyperplane bucket relation (build_lsh_index),
          bucketed by (table, bucket) — a probe reads L point buckets,
          and each row carries its embedding for the rerank;
        - ``ivf``: k-means-trained cells (clustering.kmeans_train →
          assign_cells), the assignment table bucketed by cell_id and
          the k×dim centroid table stored as ``{name}__centroids`` —
          a probe prunes to n_probe cell partitions.

        Idempotent like the reference's DDL: a second call is a no-op.
        Returns True when the index was created, False when it already
        existed. At 100 TB both relations are Iceberg tables partitioned
        by their probe key (``(t, bucket(N, b))`` / ``bucket(N,
        cell_id)``)."""
        if kind not in ("lsh", "ivf"):
            raise ValueError(f"unsupported index kind {kind!r} (have: lsh, ivf)")
        spark = self.embeddings.sparkSession
        if spark.catalog.tableExists(name):
            # IF NOT EXISTS only short-circuits for the SAME kind — a
            # caller asking for ivf over an existing lsh index would
            # otherwise silently probe a different index type.
            existing, _ = index_properties(spark, name)
            if existing != kind:
                raise ValueError(
                    f"vector index {name!r} already exists with kind "
                    f"{existing!r}, not {kind!r} — drop_vector_index first"
                )
            return False
        # v26 as the build gate (VERDICT r5 missing #4): a zero vector
        # or wrong-dim row never enters the index tables silently. The
        # default gate is map-only (no extra shuffle); qa_norm_z adds
        # the norm-outlier class. Quarantined rows are exposed for
        # review via the session-scoped ``{name}__quarantine`` view.
        from ai_iceberg_demo_spark.vector.similarity import embedding_qa_gate

        vectors, quarantined = embedding_qa_gate(
            self.embeddings, dim=dim, norm_z=qa_norm_z
        )
        quarantined.createOrReplaceTempView(f"{name}__quarantine")
        # Write order = commit protocol: auxiliary tables (centroids,
        # the empty tombstones) land FIRST, replacing any leftover, the
        # probed main table LAST, parameters included, by one CREATE
        # TABLE … AS SELECT that fails if it exists. tableExists(name)
        # is the existence check, so a failure mid-create leaves only
        # replaceable aux tables behind and the next create call simply
        # retries — never a "exists but unprobeable" index.
        tomb = f"{name}__tombstones"
        spark.sql(f"DROP TABLE IF EXISTS {tomb}")
        spark.sql(f"CREATE TABLE {tomb} (vec_id BIGINT) USING parquet")
        if kind == "lsh":
            from ai_iceberg_demo_spark.vector.similarity import build_lsh_index

            params = {"n_tables": n_tables, "n_planes": n_planes, "seed": seed, "dim": dim}
            rows = build_lsh_index(vectors, **params)
            clustered = "(t, b) INTO 16 BUCKETS"
        else:
            from ai_iceberg_demo_spark.vector.clustering import kmeans_train
            from ai_iceberg_demo_spark.vector.similarity import assign_cells

            params = {"n_cells": n_cells, "n_probe": n_probe, "n_iter": n_iter, "dim": dim}
            centroids = kmeans_train(vectors, k=n_cells, n_iter=n_iter)
            centroids.write.format("parquet").mode("overwrite").saveAsTable(
                f"{name}__centroids"
            )
            release_checkpoint(centroids)  # probes read the table
            rows = assign_cells(vectors, spark.table(f"{name}__centroids"))
            clustered = f"(cell_id) INTO {min(16, n_cells)} BUCKETS"
        props = ", ".join(f"'{k}' = '{v}'" for k, v in {"kind": kind, **params}.items())
        spark.sql(
            f"CREATE TABLE {name} USING parquet CLUSTERED BY {clustered}"
            f" TBLPROPERTIES ({props}) AS SELECT * FROM {{rows}}",
            rows=rows,
        )
        return True

    def upsert_vector_index(
        self,
        new_vectors: DataFrame,
        name: str = "result_embeddings_index",
    ) -> int:
        """Incremental index maintenance — d7's new-batch-only
        discipline applied to the M5 lifecycle: only vec_ids NOT yet in
        the index get their bucket/cell rows computed and appended;
        re-upserting a batch is a no-op. Parameters come from the
        index's table properties (``index_properties``) so the appended
        rows are probe-compatible by construction. Returns the number of
        distinct vec_ids appended; rows with a null vec_id are ignored,
        and a vec_id repeated within one batch appends its first copy
        only, so a search returns it once on either kind.

        Cost is O(new batch), and the batch is read ONCE: one collect
        of the QA-gated ``(vec_id, embedding)`` rows to the driver (the
        reference indexes one result at a time; bulk loads belong to
        ``create_vector_index``), then one JVM job that finds which of
        those ids the index already holds — a ``vec_id IN (…)`` filter
        on the index (LSH: its ``t = 0`` rows, one per vector), no
        index-wide distinct. LSH rows are hashed on the driver with the
        kernel ``build_lsh_index`` runs per Arrow batch
        (``signature_kernel``), so they are bit-identical to a build's;
        IVF rows are assigned to the EXISTING trained centroids
        (``assign_cells``) — the standard freshness/drift trade; retrain
        (drop + create) when the appended fraction grows past rebuild
        policy, which v16's drift monitor is the alarm for. The append
        reads an Arrow-built local relation, so it starts no Python
        worker, persists nothing and can never re-run a lineage that
        reads the index it writes.

        Sessions: reads ride ``new_vectors``' OWN session, not the
        facade's. Under foreachBatch each micro-batch arrives in a
        cloned session whose fresh file-index cache sees all prior
        appends; the facade's long-lived session would serve a STALE
        cached listing of the index table, breaking the idempotence
        contract for overlapping batches. After an append, the facade
        session's cache is refreshed so its readers observe the new
        rows (the REFRESH TABLE discipline any external appender
        needs)."""
        from ai_iceberg_demo_spark.vector.similarity import embedding_qa_gate

        spark = new_vectors.sparkSession
        kind, params = index_properties(spark, name)
        # the same v26 gate the build ran: an upserted batch is the
        # likeliest place a provider regression lands a degenerate row
        gated, _ = embedding_qa_gate(new_vectors, dim=params["dim"])
        batch = gated.select("vec_id", "embedding").filter(F.col("vec_id").isNotNull())
        rows = batch.collect()
        if not rows:
            return 0
        index = spark.table(name)
        probe = index.filter(_in_list("vec_id", sorted({r["vec_id"] for r in rows})))
        if kind == "lsh":
            probe = probe.filter(F.col("t") == 0)
        existing = {r["vec_id"] for r in probe.select("vec_id").collect()}
        first = {}
        for r in rows:
            first.setdefault(r["vec_id"], r)
        fresh = [r for i, r in first.items() if i not in existing]
        if not fresh:
            return 0
        ids = [r["vec_id"] for r in fresh]
        vectors = [r["embedding"] for r in fresh]
        if kind == "lsh":
            from ai_iceberg_demo_spark.vector.similarity import lsh_tables, signature_kernel

            sigs = signature_kernel(lsh_tables(**params))(np.asarray(vectors, dtype=np.float64))
            n_tables = sigs.shape[1]
            lsh = pd.DataFrame({
                "t": np.tile(np.arange(n_tables), len(ids)),
                "b": sigs.ravel(),
                "vec_id": np.repeat(ids, n_tables),
                "sig": [sig for sig in sigs.tolist() for _ in range(n_tables)],
                "embedding": [vec for vec in vectors for _ in range(n_tables)],
            })
            appended = spark.createDataFrame(lsh[index.columns], index.schema)
        else:
            from ai_iceberg_demo_spark.vector.similarity import assign_cells

            fresh_df = spark.createDataFrame(pd.DataFrame({"vec_id": ids, "embedding": vectors}), batch.schema)
            appended = assign_cells(fresh_df, spark.table(f"{name}__centroids"))
        _insert(name, appended)
        owner = self.embeddings.sparkSession
        if owner is not spark:
            owner.catalog.refreshTable(name)
        return len(ids)

    def delete_vectors(
        self,
        ids: DataFrame,
        name: str = "result_embeddings_index",
    ) -> int:
        """Soft-delete vectors from a persisted index — the DELETE leg
        of the M5 lifecycle (m7 retention / s12 erasure must reach the
        index, not just the base table). Ids append to
        ``{name}__tombstones``; every index reader (``index_rows``)
        anti-joins its candidates against that table BEFORE top-k
        truncation (v31's audit pins why: filtering after truncation
        serves k-minus-deleted results). This is Iceberg's delete-file
        model — the index rows stay until the next retrain compacts
        them out; re-adding a deleted id requires drop/recreate (upsert
        treats indexed-but-tombstoned ids as existing). Returns the
        number of newly tombstoned ids: null ids are ignored, an id
        repeated in the batch counts once, and re-deleting is a no-op.

        The batch is read ONCE: one collect of its distinct non-null
        ids to the driver (a delete batch is a request's worth of ids;
        bulk erasure is a retrain), one JVM job probing the tombstones
        with ``vec_id IN (…)`` (none before the first deletion), and an
        append of the new ids from an
        Arrow-built local relation. Before its first append the index
        gets its ``has_tombstones`` table property (a catalog write, no
        job): readers skip the anti-join while it is unset, and a crash
        between the two steps can only cost them one wasted broadcast,
        never serve a deleted id.

        Same session discipline as upsert_vector_index: reads ride the
        ids batch's session (fresh cache under foreachBatch), and the
        facade session's tombstone-table cache is refreshed after."""
        spark = ids.sparkSession
        _, _, tombstoned = _index_properties(spark, name)
        tomb = f"{name}__tombstones"
        batch = sorted({r["vec_id"] for r in ids.select("vec_id").filter(F.col("vec_id").isNotNull()).collect()})
        if not batch:
            return 0
        # unset flag: no append ever ran (the flag is set first), so
        # the tombstones are empty and need no probe
        dead = set()
        if tombstoned:
            dead = {r["vec_id"] for r in spark.table(tomb).filter(_in_list("vec_id", batch)).collect()}
        new = [i for i in batch if i not in dead]
        if not new:
            return 0
        if not tombstoned:
            spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ('{HAS_TOMBSTONES}' = 'true')")
        _insert(tomb, spark.createDataFrame(pd.DataFrame({"vec_id": new}), "vec_id bigint"))
        owner = self.embeddings.sparkSession
        if owner is not spark:
            owner.catalog.refreshTable(tomb)
        return len(new)

    def drop_vector_index(self, name: str = "result_embeddings_index") -> None:
        """DROP ... IF EXISTS for all three index tables, plus a purge
        of orphaned warehouse locations: the session catalog is
        in-memory, so a table created by a PREVIOUS session is unknown
        to DROP TABLE yet its directory still blocks saveAsTable with
        LOCATION_ALREADY_EXISTS. (Iceberg's DROP TABLE ... PURGE is
        the cluster equivalent.)"""
        import shutil
        from urllib.parse import urlparse

        spark = self.embeddings.sparkSession
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (name, f"{name}__centroids", f"{name}__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t.lower()), ignore_errors=True)

    def search_similar_results(
        self,
        query_vec: DataFrame | Sequence[float] | np.ndarray,
        k: int = 5,
        min_score: float = 0.70,
        index: str | None = None,
    ) -> DataFrame:
        """Top-k ≥ threshold (neo4j_rag.py:216-303) — V3. The query is
        the reference's ``query_embedding: List[float]`` (a list or a
        1-d ndarray) or a one-row frame with a ``qvec`` column. With
        ``index`` set to a table created by create_vector_index, the
        search routes through the persisted index (LSH buckets or IVF
        cells: candidates + exact rerank — the scale path) instead of
        the exact full scan; the index's live rows, kind and parameters
        come from ``index_rows`` (no job), and the rerank reads the
        index rows' own embeddings, never the facade's ``embeddings``.

        An index search resolves its query on the driver: a list is
        used as is, and a frame costs ONE job that collects
        ``query_vec.select("qvec")``, which must hold exactly one row
        (ValueError otherwise). The probe is built from that literal
        vector — literal (t, b) or ``cell_id IN (...)`` predicates on
        the index, a literal rerank — so the caller's frame is never
        read again. Scores are bit-identical to the exact path's."""
        from ai_iceberg_demo_spark.vector.similarity import (
            collect_query,
            ivf_probe,
            lsh_probe,
            vec_sql,
        )

        spark = self.embeddings.sparkSession
        if index is None:
            if not isinstance(query_vec, DataFrame):
                query_vec = spark.range(1).select(F.expr(vec_sql(query_vec)).alias("qvec"))
            return cosine_topk(self.embeddings, query_vec, k=k, min_score=min_score)
        # soft-deleted ids (delete_vectors) are excluded from the
        # CANDIDATE set, before any top-k truncation — v31's discipline
        idx, kind, params = index_rows(spark, index)
        if isinstance(query_vec, DataFrame):
            query = collect_query(query_vec)
        else:
            query = [float(x) for x in query_vec]
        if kind == "ivf":
            return ivf_probe(
                idx,
                spark.table(f"{index}__centroids"),
                query,
                k=k,
                n_probe=params["n_probe"],
                min_score=min_score,
            )
        return lsh_probe(idx, query, k=k, min_score=min_score, **params)

    def get_best_match(self, query_vec: DataFrame, min_score: float = 0.80) -> DataFrame:
        """Semantic-cache gate: top-1 ≥ 0.8 (neo4j_rag.py:305-331) — V4."""
        return cosine_topk(self.embeddings, query_vec, k=1, min_score=min_score)

    def get_relevant_context(self, query_vec: DataFrame, k: int = 3, min_score: float = 0.50) -> DataFrame:
        """RAG context: top-3 ≥ 0.5 joined to 2000-char doc excerpts
        (neo4j_rag.py:333-375) — V5."""
        hits = cosine_topk(self.embeddings, query_vec, k=k, min_score=min_score)
        return hits.join(
            self.documents, hits.vec_id == self.documents.doc_id
        ).select("vec_id", "score", F.substring("text", 1, 2000).alias("context"))

    def verify_connection(self) -> bool:
        return self.embeddings.sparkSession is not None


def release_caches(spark: SparkSession) -> int:
    """Session-level cache cleanup hook for long sweeps.

    Registered queries build per-call persists (d2b/d5/d8/g1/g2/v14/v18
    diamonds, pipeline intermediates) that only pay off within their own
    plan; harnesses that run many queries in one session (the driver's
    gate, tools/oracle_check.py, tools/sweep.py) should call this
    between queries or phases. Drops every persisted RDD and this
    session's table handles (which hold no storage; the next load
    re-lists the files).
    Returns the number of persisted RDDs that remain afterwards — 0 in
    a healthy session; callers can assert on it.
    """
    from ai_iceberg_demo_spark.tables import clear_table_cache

    clear_table_cache(spark)
    spark.catalog.clearCache()
    # localCheckpoint blocks (incremental sink, MMR pool) are persisted
    # RDDs outside the catalog cache manager — clearCache misses them.
    # Unpersisting truncated-lineage RDDs is only safe once their
    # DataFrames are done, which is this hook's contract.
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def create_masked_view(
    spark: SparkSession,
    df: DataFrame,
    masked_cols: Sequence[str],
    view_name: str,
) -> DataFrame:
    """Register the analyst-facing masked view of ``df``: every column
    in ``masked_cols`` is replaced by m18's deterministic pseudonym
    (mask_column — joins and group-bys still work on the masked
    column; the raw value is unrecoverable without a lookup table),
    everything else passes through. Returns the masked DataFrame and
    registers it as a temp view so SQL consumers read THROUGH the
    policy rather than around it.

    This is the role-based read path governance hands to analysts:
    the masked view costs nothing at read time (map-only
    expressions), and m18_column_masking is the audit that verifies
    its contract (zero leaks, joinability, frequency-attack flags)
    per column."""
    from ai_iceberg_demo_spark.operators.mutations import mask_column

    cols = [
        mask_column(F.col(c)).alias(c) if c in set(masked_cols) else F.col(c)
        for c in df.columns
    ]
    masked = df.select(*cols)
    masked.createOrReplaceTempView(view_name)
    return masked
