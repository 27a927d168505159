"""Seeded fixture generator.

Writes the ten engine tables (the TPC-H-ish star schema, ``events``,
``documents``, ``embeddings``) as one parquet file each, with the
physical schemas, key ranges, value distributions and planted
duplicates of the engine's reference fixtures at the same scale
factor. The same ``(seed, sf)`` always writes the same rows, so a
benchmark run never reads data from outside its own checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _days(start: str) -> int:
    return int(np.datetime64(start, "D").astype(np.int64))


def _dates(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    days = _days(start) + rng.integers(0, span_days, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; 5% are an earlier doc
    plus a trailing ``dup`` (near-duplicates) and 8 pairs are exact
    copies, the shapes the dedup queries look for."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 100, n)]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), min(8, n // 2), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS[0], n, LANGS[1]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings_table(vec_ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(vec_ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def generate_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The named tables at scale factor ``sf``. Each table draws from
    its own stream seeded by ``(seed, table)``, so a subset holds the
    same rows as the full set."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(10, int(15_000 * sf))

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        })

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        })

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        })

    def part(rng):
        pk = np.arange(n_part, dtype=np.int64)
        return pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
        })

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        })

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2499),
        })

    def events(rng):
        ts0 = _days("2024-01-01") * _DAY_US
        ts = np.sort(rng.integers(ts0, ts0 + 30 * _DAY_US, n_ev))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_ev)),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        })

    def documents(rng):
        return _documents(rng, n_doc)

    def embeddings(rng):
        return embeddings_table(
            np.arange(n_vec), unit_vectors(rng, n_vec), rng.integers(0, 10, n_vec)
        )

    makers = {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    return {
        name: makers[name](np.random.default_rng([seed, TABLES.index(name)]))
        for name in names
    }


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """Write each table as ``<name>.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
