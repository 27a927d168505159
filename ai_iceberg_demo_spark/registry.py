"""Query registry — pairs every implemented operator with its oracle.

Each operator from SURVEY.md §2 is registered as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when the semantics
are ANSI-SQL-expressible) an equivalent DuckDB SQL string. The driver
runs both sides at sf0.01 and compares row-count + schema +
order-insensitive value hash; queries without oracle SQL get a
rows-only check.

Conventions that keep the two sides hash-identical:
- alias every computed column identically in Spark and SQL;
- ``round(x, n)`` any floating aggregate on BOTH sides (summation
  order differs between engines; rounding removes last-bit noise);
- cast DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT);
- give every LIMIT/OFFSET query a total deterministic ORDER BY;
- session timezone pinned to UTC on the Spark side.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    survey_ref: str = ""  # e.g. "J1", "V3" — row in SURVEY.md §2
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


@dataclass
class Registry:
    specs: dict[str, QuerySpec] = field(default_factory=dict)

    def register(
        self,
        name: str,
        *,
        oracle: str | None,
        survey_ref: str = "",
        doc: str = "",
        bench: bool = False,
    ) -> Callable[[QueryFn], QueryFn]:
        def deco(fn: QueryFn) -> QueryFn:
            if name in self.specs:
                raise ValueError(f"duplicate query name {name!r}")
            self.specs[name] = QuerySpec(
                name=name,
                fn=fn,
                oracle=oracle,
                survey_ref=survey_ref,
                doc=doc or (fn.__doc__ or ""),
                bench=bench,
            )
            return fn

        return deco

    def merge(self, other: "Registry") -> None:
        for name, spec in other.specs.items():
            if name in self.specs:
                raise ValueError(f"duplicate query name {name!r} on merge")
            self.specs[name] = spec

    def queries(self) -> dict[str, QueryFn]:
        return {n: s.fn for n, s in self.specs.items()}

    def oracle_sql(self) -> dict[str, str]:
        return {n: s.oracle for n, s in self.specs.items() if s.oracle is not None}


# The driver's correctness gate checks the FIRST 50 queries in
# registration order per round. Full rotation history + queue policy:
# ROTATION.md (kept out of this module per the r7 verdict).
#
# POLICY (r6 + r7 verdicts):
#   1. All 50 names must carry full hash oracles — rows-only names
#      never take a slot (enforced by tests/test_registry.py); they
#      are covered by the per-round pytest sweep and hash-oracled
#      twins.
#   2. Semantic changes / oracle upgrades JUMP THE QUEUE: a name whose
#      code changed semantics ranks at the head of the next window —
#      its old green row validated different code.
#   3. Then never-driver-checked names in registration order; then
#      staleness tiers.
#
# This list is the current window; ROTATION.md records why it holds
# these names in this order.
_DRIVER_WINDOW_PRIORITY = [
    # 3 r12 registrations (first-ever rows), registration order
    "v8h_av_contour_dedup",
    "v8h2_av_signature_det",
    "t114_distinct_n",
    # 12 r4-tier overflow names (newest driver row r4), name order
    "s3_filtered_count",
    "u10_mixture_plan",
    "u11_epoch_shuffle",
    "u1_union_timeline",
    "u2_concat_datasets",
    "u3_intersect",
    "w1_last_per_group",
    "w2_sequence_numbering",
    "w3_lag_predecessor",
    "w4_ranked_topk",
    "w5_moving_window_frame",
    "w6_distribution_ranks",
    # first 35 of the r5 staleness tier (newest driver row r5), name order
    "a11b_histogram_quantiles",
    "a14_skew_report",
    "a15_frequent_tokens",
    "d10_exact_substring_removal",
    "d11_source_overlap",
    "f31_pretokenize",
    "g1_pagerank",
    "g2_label_propagation",
    "m10_wap_audit",
    "m11_orphan_files",
    "m12_maintenance_plan",
    "m6_scd2_upsert",
    "m8_snapshot_diff",
    "m9_compaction_plan",
    "o6_zorder_key",
    "o7_consistent_hashing",
    "pipeline_incremental_curation",
    "q4_order_priority",
    "q6_forecast_revenue",
    "s10_column_profile",
    "s11_fk_inclusion",
    "t13_watermark_audit",
    "t14_funnel",
    "t14b_retention",
    "t17b_semantic_decontamination",
    "t21_bigram_merge_stats",
    "t22_bm25_topk",
    "t23_hybrid_rrf",
    "t27_ab_test",
    "t28_streaming_wap",
    "t30_rate_limit",
    "u11b_epoch_shuffle_2",
    "u13_data_card",
    "u15_quality_calibration",
    "u17_weighted_sample",
]


def all_registries() -> Registry:
    """Import every operator module and merge their registries."""
    # Imports are local so a failure in one module surfaces loudly at
    # entry build time rather than at package import.
    from ai_iceberg_demo_spark.functions import (
        embedding,
        retrieval,
        scalar,
        text,
        udf_surface,
    )
    from ai_iceberg_demo_spark.multimodal import artifacts
    from ai_iceberg_demo_spark.operators import (
        aggregates,
        graph,
        joins,
        mutations,
        ordering_sets,
        sampling,
        scans_filters,
        skew,
        timeline,
        tpch,
        windows,
    )
    from ai_iceberg_demo_spark.pipeline import curation, index_maintenance, research
    from ai_iceberg_demo_spark.streaming import events as streaming_events
    from ai_iceberg_demo_spark.streaming import incremental as streaming_incremental
    from ai_iceberg_demo_spark.streaming import stateful as streaming_stateful
    from ai_iceberg_demo_spark.vector import clustering, dedup, similarity

    merged = Registry()
    for mod in (
        scans_filters,
        joins,
        graph,
        skew,
        aggregates,
        windows,
        ordering_sets,
        sampling,
        timeline,
        tpch,
        mutations,
        scalar,
        text,
        embedding,
        retrieval,
        udf_surface,
        similarity,
        dedup,
        clustering,
        streaming_events,
        streaming_stateful,
        artifacts,
        research,
        curation,
        streaming_incremental,
        index_maintenance,
    ):
        merged.merge(mod.REGISTRY)

    missing = [n for n in _DRIVER_WINDOW_PRIORITY if n not in merged.specs]
    if missing:
        raise ValueError(f"_DRIVER_WINDOW_PRIORITY names not registered: {missing}")
    ordered = Registry()
    ordered.specs = {n: merged.specs[n] for n in _DRIVER_WINDOW_PRIORITY}
    ordered.specs.update(
        (n, s) for n, s in merged.specs.items() if n not in ordered.specs
    )
    return ordered
