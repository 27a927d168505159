"""Multimodal artifact column tests — SURVEY.md §2.10 V8/V9."""

from __future__ import annotations

import pytest

from ai_iceberg_demo_spark.multimodal.artifacts import (
    TARGET_WIDTH,
    artifact_table,
    decode_image_real,
    markdown_to_html,
    resize_images,
)
from tests.conftest import SF_DIR


def test_artifact_payload_is_binary(spark):
    a = artifact_table(spark, SF_DIR)
    assert dict(a.dtypes)["payload"] == "binary"
    row = a.orderBy("doc_id").first()
    assert isinstance(row.payload, bytearray | bytes)
    assert row.payload.decode("utf-8")  # utf-8 roundtrip holds


def test_resize_keeps_aspect_ratio(spark):
    out = resize_images(artifact_table(spark, SF_DIR)).orderBy("doc_id").collect()
    assert len(out) > 0
    scaled = [r for r in out if r.width > TARGET_WIDTH]
    kept = [r for r in out if r.width <= TARGET_WIDTH]
    assert scaled and kept  # both branches exercised by fixture dims
    for r in scaled:
        assert r.new_width == TARGET_WIDTH
        assert r.new_height == int(TARGET_WIDTH * (r.height / r.width))
    for r in kept:
        assert (r.new_width, r.new_height) == (r.width, r.height)


def test_artifact_dims_do_not_overflow_near_2_pow_62(spark, tmp_path):
    """The fake dims reduce doc_id before multiplying, so ids near 2^62
    (100 TB id ranges) give Python's integer answer instead of raising
    ARITHMETIC_OVERFLOW under ANSI, as (doc_id * 37) % 800 did."""
    ids = [2**62 + i for i in (0, 1, 7, 799, 12345)]
    spark.createDataFrame(
        [(i, "a b c", "en", "web", 5) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = artifact_table(spark, str(tmp_path)).select("doc_id", "width", "height").collect()
    assert sorted(tuple(r) for r in rows) == [
        (i, i * 37 % 800 + 200, i * 53 % 600 + 150) for i in ids
    ]


def test_resize_deterministic_across_runs(spark):
    a = resize_images(artifact_table(spark, SF_DIR)).orderBy("doc_id").collect()
    b = resize_images(artifact_table(spark, SF_DIR)).orderBy("doc_id").collect()
    assert a == b


def test_decode_image_real_is_stubbed(spark):
    """The real pixel decode declares its dependency loudly."""
    pytest.importorskip("builtins")  # always present; keep pattern explicit
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present; stub branch not reachable")
    except ImportError:
        pass
    df = decode_image_real(artifact_table(spark, SF_DIR))
    with pytest.raises(Exception) as exc_info:
        df.limit(1).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_markdown_to_html_goldens(spark):
    docs = spark.createDataFrame(
        [
            (1, "# Title\n\nBody with **bold** and `code`."),
            (2, "## Sub\nplain"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.html for r in markdown_to_html(docs).collect()}
    assert got[1] == "<h1>Title</h1>\n<p>Body with <strong>bold</strong> and <code>code</code>.</p>"
    assert got[2] == "<h2>Sub</h2>\n<p>plain</p>"


def test_print_layout_theme_parameters(spark):
    """V9 print layout: document shell carries the @page pagination
    rules and the StylingOptions knobs land in the CSS exactly like
    pdf_generation_activity.py:232-253 (font_size -> body, primary_color
    -> title/h1/blockquote accents)."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.multimodal.artifacts import print_layout_html
    from ai_iceberg_demo_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") < 3)
    row = print_layout_html(docs, font_size=12, primary_color="#8e44ad").orderBy("doc_id").first()
    html = row["html"]
    assert html.startswith("<!DOCTYPE html>") and html.endswith("</body></html>")
    # pagination contract: 1in page margin + centered page-number footer
    assert "@page { margin: 1in;" in html
    assert "content: counter(page);" in html
    assert "page-break-before: always" in html and "page-break-inside: avoid" in html
    # themes: both knobs present, defaults absent
    assert "body { font-size: 12px;" in html
    assert html.count("#8e44ad") == 4  # title color+border, h1, blockquote
    assert "#2c3e50" not in html
    # title block and rendered content are in the shell
    assert f'<h1 class="document-title">Research Report {row["doc_id"]}</h1>' in html
    assert '<div class="content">' in html

    # defaults differ from the custom theme only in the CSS constants
    d = print_layout_html(docs).orderBy("doc_id").first()["html"]
    assert "body { font-size: 14px;" in d and "#2c3e50" in d


def test_v8e_phash_pairs_sound_and_complete_to_pigeonhole_bound(spark):
    """Exhaustive ground truth at fixture scale: every returned pair
    really is within hamming ≤ 6 (soundness), every pair within
    hamming ≤ 3 is returned (the 4-band pigeonhole guarantee), and a
    planted byte-identical payload surfaces at hamming 0."""
    import numpy as np

    from ai_iceberg_demo_spark.multimodal.artifacts import (
        PHASH_HAMMING_MAX,
        artifact_table,
        perceptual_hash,
        phash_near_dup_pairs,
        v8e_phash_dedup,
    )
    from tests.conftest import SF_DIR

    hashes = {
        r["doc_id"]: r["phash"]
        for r in perceptual_hash(artifact_table(spark, SF_DIR)).collect()
    }
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in v8e_phash_dedup(spark, SF_DIR).collect()
    }
    assert got, "fixture must produce near-dup artifact pairs"

    ids = sorted(hashes)
    arr = np.array([hashes[i] for i in ids], dtype=np.int64).view(np.uint64)
    xor = arr[:, None] ^ arr[None, :]
    ham = np.array(
        [[bin(int(x)).count("1") for x in row] for row in xor], dtype=np.int64
    )
    for (a, b), h in got.items():
        assert ham[ids.index(a)][ids.index(b)] == h <= PHASH_HAMMING_MAX
    iu = np.triu_indices(len(ids), k=1)
    within3 = {
        (ids[i], ids[j])
        for i, j in zip(*iu)
        if ham[i][j] <= 3
    }
    assert within3 <= set(got), "hamming<=3 pair missed by the band join"

    # planted byte-identical payloads hash identically (hamming 0)
    dup = spark.createDataFrame(
        [(900001, bytearray(b"same payload bytes")), (900002, bytearray(b"same payload bytes"))],
        "doc_id long, payload binary",
    )
    planted = phash_near_dup_pairs(perceptual_hash(dup)).collect()
    assert [(r["a_id"], r["b_id"], r["hamming"]) for r in planted] == [
        (900001, 900002, 0)
    ]


def test_scene_cut_fires_on_planted_boundary(spark):
    """v8f: a synthetic two-scene 'video' (low-byte frames then
    high-byte frames) yields exactly one cut, at the boundary frame."""
    from ai_iceberg_demo_spark.multimodal.artifacts import v8f_scene_cut
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    # fixture sanity: some cuts, all above threshold, every frame_no > 0
    rows = v8f_scene_cut(spark, SF_DIR).collect()
    assert rows
    assert all(r["delta"] >= 8.0 and r["frame_no"] > 0 for r in rows)

    # planted boundary via the same pipeline body on a crafted doc
    import pyspark.sql.functions as MF

    text = "a" * 192 + "z" * 192  # scene 1: 'a'(97)x3 frames, scene 2: 'z'(122)
    crafted = spark.createDataFrame([(1, text)], "doc_id long, text string")
    real_docs = load_table(spark, "documents", SF_DIR)

    import ai_iceberg_demo_spark.multimodal.artifacts as A
    import ai_iceberg_demo_spark.tables as T

    orig = T.load_table
    try:
        def fake_load(spark_, name, sf_dir):
            return crafted if name == "documents" else orig(spark_, name, sf_dir)
        A.load_table = fake_load
        cuts = v8f_scene_cut(spark, SF_DIR).collect()
    finally:
        A.load_table = orig
    assert [(r["doc_id"], r["frame_no"]) for r in cuts] == [(1, 3)]
    assert abs(cuts[0]["delta"] - 25.0) < 1e-6  # |122 - 97|


def test_multimodal_prep_funnel_algebra(spark):
    """pipeline_multimodal_prep: survivors = artifacts minus the
    larger-id member of every near-dup pair; manifest dims obey the
    resize rule; frame counts match payload size; cut counts match
    v8f per doc."""
    from ai_iceberg_demo_spark.multimodal.artifacts import (
        TARGET_WIDTH,
        artifact_table,
        perceptual_hash,
        phash_near_dup_pairs,
        pipeline_multimodal_prep,
        v8f_scene_cut,
    )
    from tests.conftest import SF_DIR

    manifest = {r["doc_id"]: r for r in pipeline_multimodal_prep(spark, SF_DIR).collect()}
    arts = {r["doc_id"]: r for r in artifact_table(spark, SF_DIR).collect()}
    pairs = phash_near_dup_pairs(perceptual_hash(artifact_table(spark, SF_DIR))).collect()
    dropped = {p["b_id"] for p in pairs}

    assert set(manifest) == set(arts) - dropped
    for doc_id, r in manifest.items():
        a = arts[doc_id]
        if a["width"] > TARGET_WIDTH:
            assert r["new_width"] == TARGET_WIDTH
            assert r["new_height"] == int(a["height"] * TARGET_WIDTH / a["width"])  # int() truncation, the reference formula
        else:
            assert (r["new_width"], r["new_height"]) == (a["width"], a["height"])
        assert r["n_frames"] == -(-len(a["payload"]) // 64)

    cuts = {}
    for c in v8f_scene_cut(spark, SF_DIR).collect():
        cuts[c["doc_id"]] = cuts.get(c["doc_id"], 0) + 1
    for doc_id, r in manifest.items():
        assert r["n_cuts"] == cuts.get(doc_id, 0)
