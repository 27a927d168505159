"""The closed-loop workloads.

Each workload is one client in one session: it sets up (tables,
inputs, expected outputs, a warm pass), then hands the runner ops in
blocks. A block is a fixed op composition in a seeded order, and a run
is a fixed number of blocks, so a faster program does the same work,
not more. Expected results never come from the program under test
alone: ``suite`` compares with the queries' DuckDB oracles, and
``index_upkeep`` with exact numpy answers over the generated inputs.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

from datagen import TABLES, unit_vectors
from harness import Op, frame_digest, sink_with_digest

# The bench-flagged queries ``suite`` runs, in registry order. The full
# 36-query set takes ~80 s per pass at sf0.1 on 4 cores (one cold pass
# ~100 s), which does not fit the run budget, so the suite is a fixed
# sample spanning windows, joins, aggregation, vector search, dedup and
# a composite pipeline.
SUITE_QUERIES = (
    "w1_last_per_group",
    "j1_parent_children_join",
    "q1_pricing_summary",
    "v3_cosine_topk",
    "d3_minhash_lsh",
    "pipeline_interactive",
)


def _sql_str(s: str) -> str:
    return s.replace("'", "''")


def _collect(df):
    return df.collect()


def _timed_load(ctx, names) -> dict:
    from ai_iceberg_demo_spark.tables import load_table

    t0 = time.perf_counter()
    frames = {n: load_table(ctx.spark, n, ctx.data_dir) for n in names}
    for df in frames.values():
        df.schema  # resolve the file listing and footers
    ctx.layer["tables.load_s"] = time.perf_counter() - t0
    return frames


def oracle_digest(spark, con, sql: str, schema, path: str) -> tuple[int, int]:
    """(row count, hash) of a DuckDB oracle's result, written to
    ``path`` and hashed by the same Spark expressions as the op's own
    output after casting each column to the type the query gives it."""
    from pyspark.sql import functions as F

    con.execute(f"COPY ({sql}) TO '{_sql_str(path)}' (FORMAT PARQUET)")
    df = spark.read.parquet(path)
    return frame_digest(df.select(*[
        F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in schema.fields
    ]))


class Suite:
    """Registered bench queries, each op starting from released caches."""

    name = "suite"
    tables = TABLES
    block_s = 7.0  # one pass over SUITE_QUERIES at sf0.1 on 4 cores (7-9 s)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.oracle: dict[str, tuple[int, int]] = {}
        self.warm: dict[str, tuple[int, int]] = {}

    def setup(self) -> None:
        import duckdb

        from ai_iceberg_demo_spark.facade import release_caches
        from ai_iceberg_demo_spark.registry import all_registries

        _timed_load(self.ctx, TABLES)
        specs = all_registries().specs
        self.specs = [specs[n] for n in SUITE_QUERIES]
        spark, data_dir = self.ctx.spark, self.ctx.data_dir
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_sql_str(path)}')")
        oracle_s = 0.0
        for spec in self.specs:  # warm pass: JIT, codegen; expected outputs
            release_caches(spark)
            df = spec.fn(spark, data_dir)
            self.warm[spec.name] = sink_with_digest(df)
            t0 = time.perf_counter()
            self.oracle[spec.name] = oracle_digest(
                spark, con, spec.oracle, df.schema,
                os.path.join(self.ctx.data_dir, f"oracle_{spec.name}.parquet"))
            oracle_s += time.perf_counter() - t0
        con.close()
        self.ctx.layer["oracle_s"] = oracle_s

    def _op(self, spec) -> Op:
        from ai_iceberg_demo_spark.facade import release_caches

        spark, data_dir = self.ctx.spark, self.ctx.data_dir
        return Op(
            name=spec.name,
            kind="read",
            method=spec.name,
            prepare=lambda: release_caches(spark),
            build=lambda _: spec.fn(spark, data_dir),
            action=sink_with_digest,
            check=lambda d: d == self.oracle[spec.name] and d == self.warm[spec.name],
        )

    def batches(self):
        while True:
            yield [self._op(s) for s in self.specs]

    def properties(self) -> dict:
        return {"queries": len(self.specs), "read_share": 1.0, "write_share": 0.0,
                "oracle_matches_warm": all(self.oracle[k] == self.warm[k] for k in self.oracle)}

    def stored_ratio(self) -> float:
        return 0.0  # writes no tables

    def teardown(self) -> None:
        from ai_iceberg_demo_spark.facade import release_caches

        release_caches(self.ctx.spark)


GATE_INDEX, CONTEXT_INDEX = "bench_lsh", "bench_ivf"
INDEXES = ((GATE_INDEX, "lsh"), (CONTEXT_INDEX, "ivf"))
# A research run of the reference's interactive lifecycle (SURVEY.md
# §3.1 steps 4, 5 and 9): the semantic-cache probe (top-1 >= 0.8,
# neo4j_rag.py:305-331); on a hit the stored result is reused and
# nothing is written; on a miss the context probe (top-3 >= 0.5,
# neo4j_rag.py:333-375) and then one upsert of the new result's single
# embedding (index_result_node, neo4j_rag.py:163-214). Each probe goes
# to the index kind that suits it: the cache probe to LSH (random
# hyperplanes keep near-duplicates in one bucket), the context probe to
# IVF (the nearest cells hold moderately similar vectors, and it is the
# index pipeline_interactive routes through). Both indexes take every
# upsert and every erasure. The reference never deletes; m7 retention
# and s12 erasure reach the indexes as delete_vectors, kept rare: one
# request of ERASE_BATCH ids per block. A block is HIT_RUNS runs that
# repeat a stored query, MISS_RUNS that ask a new one and one erasure.
HIT_RUNS, MISS_RUNS, ERASE_BATCH = 3, 2, 4
GATE, CONTEXT = (1, 0.80), (3, 0.50)  # (k, min_score)
UNITS = ("hit",) * HIT_RUNS + ("miss",) * MISS_RUNS + ("erase",)
VEC_BYTES = 8 + 4 * 64  # vec_id + float32[64]


class IndexUpkeep:
    """Two persisted vector indexes under seeded research runs (a cache
    probe, then a context probe and an upsert on a miss) and rare
    erasures."""

    name = "index_upkeep"
    tables = ("embeddings", "documents")
    block_s = 16.0  # one block (13 ops) at sf0.1 on 4 cores

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.next_id = 5_000_000  # above every fixture id
        self.kinds: Counter = Counter()
        self.gate_hits: list[bool] = []

    def setup(self) -> None:
        from ai_iceberg_demo_spark.facade import VectorRAG

        t = _timed_load(self.ctx, self.tables)
        self.rag = VectorRAG(t["embeddings"], t["documents"])
        e = self.ctx.tables["embeddings"]
        self.base_ids = e["vec_id"].to_numpy()
        self.vecs = np.stack(e["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.dead: set[int] = set()
        self.added: tuple[list, list] = ([], [])  # upserted ids, vectors
        for name, kind in INDEXES:
            self.rag.drop_vector_index(name)
            self.rag.create_vector_index(name, kind=kind)
        for unit in ("miss", "erase"):  # warm every op shape once (a hit is a cache probe)
            for op in self._unit(unit):
                op.check(op.action(op.build(op.prepare())))
        self.kinds.clear()
        self.gate_hits.clear()

    # -- exact answers over the generated inputs ------------------------

    def _scores(self, q: np.ndarray) -> dict[int, float]:
        """vec_id -> cosine rounded to 6 places, for every live vector."""
        ids, vecs = self.added
        all_ids = np.concatenate([self.base_ids, np.asarray(ids, dtype=np.int64)])
        all_vecs = np.vstack([self.vecs, *vecs]) if vecs else self.vecs
        norms = np.linalg.norm(all_vecs, axis=1)
        s = np.round(all_vecs @ q / (norms * np.linalg.norm(q)), 6)
        return {int(i): float(v) for i, v in zip(all_ids, s) if int(i) not in self.dead}

    def _live_base(self) -> int:
        """Position of a random live fixture vector."""
        while True:
            pos = int(self.rng.integers(len(self.base_ids)))
            if int(self.base_ids[pos]) not in self.dead:
                return pos

    def _new_query(self) -> np.ndarray:
        """A new question near a stored one (cosine ~0.65-0.77), so the
        context probe finds neighbours but the cache probe misses."""
        while True:
            base = self.vecs[self._live_base()]
            q = base + self.rng.uniform(0.11, 0.15) * self.rng.standard_normal(base.shape)
            q /= np.linalg.norm(q)
            if max(self._scores(q).values()) < GATE[1]:
                return q

    # -- op construction -----------------------------------------------

    def _qframe(self, q: np.ndarray):
        return self.ctx.spark.createDataFrame([([float(x) for x in q],)], "qvec array<float>")

    def _probe(self, index: str, q: np.ndarray, k_min: tuple, check) -> Op:
        self.kinds["read"] += 1
        k, min_score = k_min
        return Op(f"search_similar_results@{index}", "read", "search_similar_results",
                  lambda qv: self.rag.search_similar_results(qv, k=k, min_score=min_score,
                                                             index=index),
                  _collect, check, prepare=lambda: self._qframe(q))

    def _write(self, method: str, index: str, frame, expected: int) -> Op:
        self.kinds["write"] += 1
        call = getattr(self.rag, method)
        return Op(f"{method}@{index}", "write", method, lambda df: call(df, index),
                  lambda n: n, lambda n: n == expected, prepare=frame)

    def _unit(self, unit: str) -> list[Op]:
        spark = self.ctx.spark
        if unit == "hit":
            pos = self._live_base()
            qid = int(self.base_ids[pos])
            self.gate_hits.append(max(self._scores(self.vecs[pos]).values()) >= GATE[1])
            return [self._probe(GATE_INDEX, self.vecs[pos].astype(np.float32), GATE, lambda rows: (
                len(rows) == 1 and rows[0]["vec_id"] == qid and rows[0]["score"] >= 0.9999))]
        if unit == "miss":
            q = self._new_query().astype(np.float32)
            exact = self._scores(q.astype(np.float64))
            self.gate_hits.append(max(exact.values()) >= GATE[1])

            def context_ok(rows) -> bool:
                scores = [r["score"] for r in rows]
                return len(rows) <= CONTEXT[0] and scores == sorted(scores, reverse=True) and all(
                    r["score"] >= CONTEXT[1] and r["vec_id"] in exact
                    and abs(r["score"] - exact[r["vec_id"]]) <= 1e-5 for r in rows)

            new_id, new_vec = self.next_id, unit_vectors(self.rng, 1)[0]
            self.next_id += 1
            self.added[0].append(new_id)
            self.added[1].append(new_vec[None, :].astype(np.float64))

            def frame():
                return spark.createDataFrame([(new_id, new_vec.tolist())],
                                             "vec_id long, embedding array<float>")

            return [self._probe(GATE_INDEX, q, GATE, lambda rows: rows == []),
                    self._probe(CONTEXT_INDEX, q, CONTEXT, context_ok),
                    *[self._write("upsert_vector_index", name, frame, 1) for name, _ in INDEXES]]
        live = [i for i in self.base_ids.tolist() if i not in self.dead]
        ids = sorted(int(i) for i in self.rng.choice(live, ERASE_BATCH, replace=False))
        self.dead.update(ids)

        def frame():
            return spark.createDataFrame([(i,) for i in ids], "vec_id long")

        return [self._write("delete_vectors", name, frame, ERASE_BATCH) for name, _ in INDEXES]

    def batches(self):
        while True:
            yield [op for i in self.rng.permutation(len(UNITS)) for op in self._unit(UNITS[i])]

    def properties(self) -> dict:
        n = sum(self.kinds.values()) or 1
        return {
            "hit_runs": HIT_RUNS, "miss_runs": MISS_RUNS, "erase_batch": ERASE_BATCH,
            "base_vectors": len(self.base_ids),
            "gate_hit_share": round(sum(self.gate_hits) / max(1, len(self.gate_hits)), 4),
            "read_share": round(self.kinds["read"] / n, 4),
            "write_share": round(self.kinds["write"] / n, 4),
        }

    def stored_ratio(self) -> float:
        """Warehouse bytes of both indexes per byte of user data they
        hold: every live or tombstoned vector, plus each tombstone id."""
        held = len(self.base_ids) + len(self.added[0])
        user = len(INDEXES) * (held * VEC_BYTES + 8 * len(self.dead))
        return sum(size for size, _ in self.ctx.warehouse_files().values()) / user

    def teardown(self) -> None:
        for name, _ in INDEXES:
            self.rag.drop_vector_index(name)


WORKLOADS = {w.name: w for w in (Suite, IndexUpkeep)}
