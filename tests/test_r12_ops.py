"""Round-12 operator pins: the audio/video near-duplicate twin
(v8h / v8h2). The hash oracle proves engine≡DuckDB on the fixture;
these pin the SEMANTICS the hash can't see — the invariances the
signature is designed around (identical payloads, uniform gain,
uniform time-stretch) and pair-output soundness."""

from __future__ import annotations

from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ai_iceberg_demo_spark.multimodal.artifacts import (
    AV_HAMMING_MAX,
    av_contour_signature,
    phash_near_dup_pairs,
)
from ai_iceberg_demo_spark.registry import all_registries
from tests.conftest import SF_DIR

_ART_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
)


def _arts(spark, payloads: dict[int, bytes]):
    return spark.createDataFrame(
        [(i, p) for i, p in payloads.items()], _ART_SCHEMA
    )


def _sigs(spark, payloads: dict[int, bytes]) -> dict[int, int]:
    rows = av_contour_signature(_arts(spark, payloads)).collect()
    return {r.doc_id: r.avsig for r in rows}


# a byte pattern with a non-trivial energy contour (values stay ≤ 127
# so the 2× gain test below cannot clip)
_BASE = bytes((i * 37 + 11) % 108 + 10 for i in range(400))


def _ham(a: int, b: int) -> int:
    # signatures are int64 (sign bit = delta bit 0) — mask to the
    # unsigned 64-bit space before popcounting or Python's arbitrary-
    # precision xor of negatives miscounts
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_v8h_identical_payloads_hamming_zero(spark):
    """An exact copy has the identical signature, shares every band,
    and surfaces as a hamming-0 pair."""
    sigs = _sigs(spark, {1: _BASE, 2: _BASE})
    assert sigs[1] == sigs[2]
    pairs = phash_near_dup_pairs(
        av_contour_signature(_arts(spark, {1: _BASE, 2: _BASE})),
        hamming_max=AV_HAMMING_MAX,
        col="avsig",
    ).collect()
    assert [(p.a_id, p.b_id, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_v8h_gain_invariance(spark):
    """A uniformly louder copy (every sample ×2) keeps EVERY bit: the
    delta-sign contour compares E_k vs E_{k+1}, and scaling all bytes
    by c scales every slice energy by c² — the comparison is
    unchanged. This is the claim that distinguishes the contour from
    a level-threshold hash."""
    louder = bytes(b * 2 for b in _BASE)
    sigs = _sigs(spark, {1: _BASE, 2: louder})
    assert sigs[1] == sigs[2]


def test_v8h_time_stretch_keeps_most_bits(spark):
    """A 2× uniform time-stretch (each sample doubled in place — the
    re-sample stand-in) aligns slice-for-slice under normalized-time
    splitting, so the contour keeps most bits (within the near-dup
    bar). An ABSOLUTE-framed signature would shear completely here —
    this is why the slices are normalized, not fixed-size."""
    stretched = bytes(b for x in _BASE for b in (x, x))
    sigs = _sigs(spark, {1: _BASE, 2: stretched})
    assert _ham(sigs[1], sigs[2]) <= AV_HAMMING_MAX


def test_v8h_different_content_not_paired(spark):
    """Unrelated contours (ascending vs descending energy ramps) are
    far apart: ascending ramps give all-zero delta bits, descending
    give all-one — hamming 64, no pair within any bar."""
    up = bytes(min(10 + i // 4, 250) for i in range(520))
    down = bytes(min(10 + (519 - i) // 4, 250) for i in range(520))
    sigs = _sigs(spark, {1: up, 2: down})
    assert _ham(sigs[1], sigs[2]) > 32
    pairs = phash_near_dup_pairs(
        av_contour_signature(_arts(spark, {1: up, 2: down})),
        hamming_max=AV_HAMMING_MAX,
        col="avsig",
    ).collect()
    assert pairs == []


def test_v8h_registered_pairs_sound_and_complete_to_pigeonhole(spark):
    """Every pair the registered query emits respects the contract
    (a_id < b_id, hamming ≤ the bar, no duplicates), and — the
    pigeonhole guarantee — every fixture pair within hamming ≤
    bands−1 = 3 is PRESENT: ≤ 3 differing bits cannot touch all 4
    bands, so such a pair always shares a band and is always found.
    Brute force over the collected signature table is the oracle
    (corpus-sized driver work is fine in a test; the production path
    never does this)."""
    rows = (
        all_registries()
        .specs["v8h_av_contour_dedup"]
        .fn(spark, SF_DIR)
        .collect()
    )
    seen = set()
    for r in rows:
        assert r.a_id < r.b_id
        assert 0 <= r.hamming <= AV_HAMMING_MAX
        assert (r.a_id, r.b_id) not in seen
        seen.add((r.a_id, r.b_id))
    sigs = {
        r.doc_id: r.avsig
        for r in all_registries()
        .specs["v8h2_av_signature_det"]
        .fn(spark, SF_DIR)
        .collect()
    }
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if _ham(sigs[a], sigs[b]) <= 3:
                assert (a, b) in seen, f"pigeonhole pair ({a},{b}) missed"


def test_v8h_no_python_seam_after_signature(spark):
    """Pixels/samples never shuffle: the ONLY Python stage is the
    map-only signature extraction; banding, join, and popcount are
    JVM-side (plan shows exactly one Arrow seam, no BatchEvalPython)."""
    df = all_registries().specs["v8h_av_contour_dedup"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
