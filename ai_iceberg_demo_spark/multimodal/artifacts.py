"""Multimodal / artifact columns — SURVEY.md §2.10 V8/V9 + F25-F27.

The reference generates images (base64-decode → Pillow resize to width
600 keeping aspect ratio → re-encode, `image_generation_activity.py:
49-125`), renders markdown→HTML→PDF (`pdf_generation_activity.py:
37-253`), and writes both as timestamped files. Engine re-expression:

- artifacts are rows of an **artifact table** — ``binary`` payload +
  typed metadata columns (mime, width, height, md5) — not loose files;
- decode / resize / frame-sample run as **Arrow-batched seams**
  (``mapInPandas``) so the per-row work is vectorized and the Spark
  plumbing (schema, batching, partition-preserving map) is real;
- the *actual* pixel decode needs Pillow, which is not in this
  container: ``decode_image_real`` is the clearly-marked stub. The
  deterministic fake decode (metadata-derived dimensions) keeps every
  downstream operator testable and ORACLE-CHECKED — including the
  resize arithmetic, which is the reference's exact h/w-ratio formula.

Scale notes: every operator here is map-only (no shuffle). Binary
payloads stay columnar in parquet/Arrow end to end; at 100 TB the
artifact table is date-partitioned and the mapInPandas batches bound
executor memory by Arrow batch size (spark.sql.execution.arrow.
maxRecordsPerBatch), not by file size. UDF closures are self-contained
(serialized by value — no PYTHONPATH requirement on workers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once

REGISTRY = Registry()

#: reference target width for PDF embedding (image_generation_activity.py:21,60)
TARGET_WIDTH = 600

_MIMES = ["image/png", "image/jpeg", "image/webp"]  # image_generation_activity.py:11-12


# ---------------------------------------------------------------------------
# Artifact table construction (deterministic, from the documents fixture)
# ---------------------------------------------------------------------------


def artifact_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary artifact table derived deterministically from `documents`:
    payload = utf-8 bytes of the text (the opaque-binary stand-in),
    mime from a doc_id cycle, fake intrinsic dimensions from doc_id.

    Mirrors the reference's artifact shape: path (timestamp-named file,
    F13), mime (Literal enum, §1.2), binary payload, width/height
    metadata.
    """
    docs = load_table(spark, "documents", sf_dir)
    mime = F.element_at(
        F.array(*[F.lit(m) for m in _MIMES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        F.format_string("artifact_%06d.bin", F.col("doc_id")).alias("path"),
        mime.alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        # fake intrinsic dims — deterministic doc_id hash, spanning both
        # sides of TARGET_WIDTH so resize exercises both branches;
        # reduced before multiplying, so no doc_id overflows a long (ANSI)
        (((F.col("doc_id") % 800) * 37) % 800 + 200).cast("int").alias("width"),
        (((F.col("doc_id") % 600) * 53) % 600 + 150).cast("int").alias("height"),
    )


# ---------------------------------------------------------------------------
# V8: decode / resize seams (mapInPandas; Arrow-batched)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("new_width", IntegerType()),
        StructField("new_height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
    ]
)


def resize_images(artifacts: DataFrame, target_width: int = TARGET_WIDTH) -> DataFrame:
    """V8 resize: width>target → scale to target keeping aspect ratio
    (``ratio = h/w; new_h = int(target*ratio)`` — the reference formula
    at image_generation_activity.py:76-96), else keep dims.

    Runs as mapInPandas over Arrow batches; the pixel work is the fake
    decode (metadata dims), the batching/schema/partitioning are the
    real production plumbing. Closure is self-contained.
    """

    def resize(batches):
        import hashlib

        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            scale = w > target_width
            ratio = h / w  # aspect ratio, reference :80-81
            new_w = w.where(~scale, target_width).astype("int32")
            new_h = h.where(~scale, (target_width * ratio).astype("int64")).astype("int32")
            out = pdf[["doc_id", "mime", "width", "height"]].copy()
            out["new_width"] = new_w
            out["new_height"] = new_h
            out["n_bytes"] = pdf["payload"].map(len).astype("int64")
            out["content_md5"] = pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest())
            yield out

    return artifacts.mapInPandas(resize, RESIZE_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("pixels", BinaryType()),
    ]
)


def decode_image_real(artifacts: DataFrame) -> DataFrame:
    """The REAL pixel decode — requires Pillow, which this container
    does not ship. STUB: the Spark plumbing (schema, Arrow batching) is
    final; only the per-batch body raises until Pillow is present.
    """

    def decode(batches):
        try:
            from PIL import Image  # noqa: F401
        except ImportError as exc:  # pragma: no cover - exercised in tests
            raise NotImplementedError(
                "decode_image_real needs Pillow (PIL) for pixel decode; "
                "not available in this container. Use artifact_table's "
                "metadata dims + resize_images for the deterministic path."
            ) from exc
        import io

        import numpy as np

        for pdf in batches:  # pragma: no cover - requires Pillow
            rows = []
            for _, r in pdf.iterrows():
                img = Image.open(io.BytesIO(r["payload"]))
                rows.append(
                    (r["doc_id"], img.width, img.height, img.mode,
                     np.asarray(img).tobytes())
                )
            import pandas as pd

            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mode", "pixels"]
            )

    return artifacts.mapInPandas(decode, DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# V9: markdown → HTML (deterministic subset; pandas seam)
# ---------------------------------------------------------------------------

MD_HTML_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("html", StringType())]
)


def markdown_to_html(docs: DataFrame) -> DataFrame:
    """V9 document rendering (pdf_generation_activity.py:62-65): a
    deterministic markdown subset — ATX headers, **bold**, `code`,
    paragraph wrap — as an Arrow-batched seam. The reference's WeasyPrint
    PDF step is a further binary-encode over this HTML (S7 artifact
    write); PDF bytes themselves need system libs not in this container.
    """

    def render(batches):
        import re

        def one(text: str) -> str:
            lines = []
            for ln in text.split("\n"):
                ln = re.sub(r"\*\*(.+?)\*\*", r"<strong>\1</strong>", ln)
                ln = re.sub(r"`([^`]+)`", r"<code>\1</code>", ln)
                m = re.match(r"^(#{1,3}) (.*)$", ln)
                if m:
                    d = len(m.group(1))
                    lines.append(f"<h{d}>{m.group(2)}</h{d}>")
                elif ln.strip():
                    lines.append(f"<p>{ln}</p>")
            return "\n".join(lines)

        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["html"] = pdf["text"].map(one)
            yield out

    return docs.mapInPandas(render, MD_HTML_SCHEMA)


PRINT_PAGE_CSS = (
    "@page { margin: 1in; @bottom-center { content: counter(page); "
    "font-size: 12px; color: #666; } } "
    ".content h1 { page-break-before: always; } "
    "h1, h2, h3 { page-break-after: avoid; } "
    "p, blockquote, pre { page-break-inside: avoid; }"
)

DEFAULT_FONT_SIZE = 14
DEFAULT_PRIMARY_COLOR = "#2c3e50"


def _theme_css(font_size: int, primary_color: str) -> str:
    """StylingOptions → CSS (pdf_generation_activity.py:232-253); shared
    by print_layout_html and the v9 oracle so theme strings can't drift."""
    return (
        f"body {{ font-size: {int(font_size)}px; line-height: 1.6; color: #333; }} "
        f".document-title {{ color: {primary_color}; border-bottom: 3px solid "
        f"{primary_color}; font-size: 28px; }} "
        f".content h1 {{ color: {primary_color}; font-size: 24px; }} "
        f".content blockquote {{ border-left: 4px solid {primary_color}; }} "
        + PRINT_PAGE_CSS
    )


def print_layout_html(
    docs: DataFrame,
    font_size: int = DEFAULT_FONT_SIZE,
    primary_color: str = DEFAULT_PRIMARY_COLOR,
) -> DataFrame:
    """V9 paginated print layout (pdf_generation_activity.py:68-88,
    107-253): wraps the rendered markdown subset in the reference's full
    HTML document shell — title block, default CSS themes, @page rules
    with a centered page-number footer, page-break discipline — plus the
    two StylingOptions knobs (font_size → body size, primary_color →
    title/h1/blockquote accents, pdf_generation_activity.py:232-253).

    The WeasyPrint HTML→PDF byte step needs system libs not in this
    container; this HTML is its exact input, so the seam ends one encode
    short of the reference. Map-only: content render is the Arrow-batched
    markdown seam, the shell is JVM string assembly."""
    content = markdown_to_html(docs)
    titled = docs.select(
        "doc_id",
        F.concat(F.lit("Research Report "), F.col("doc_id").cast("string")).alias("title"),
    )
    css = _theme_css(font_size, primary_color)
    return content.join(titled, "doc_id").select(
        "doc_id",
        F.concat(
            F.lit('<!DOCTYPE html><html><head><meta charset="UTF-8"><title>'),
            F.col("title"),
            F.lit(f"</title><style>{css}</style></head><body>"),
            F.lit('<div class="container"><h1 class="document-title">'),
            F.col("title"),
            F.lit('</h1><div class="content">'),
            F.col("html"),
            F.lit("</div></div></body></html>"),
        ).alias("html"),
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v8_artifact_metadata",
    survey_ref="V8,S7,F13",
    doc="binary artifact table: payload bytes + typed metadata (mime, "
    "path, dims, md5) — the engine's form of the reference's image/PDF "
    "file writes (image_generation_activity.py:102-117).",
    oracle="""
        SELECT doc_id,
               PRINTF('artifact_%06d.bin', doc_id) AS path,
               ['image/png','image/jpeg','image/webp'][CAST(doc_id % 3 AS INT) + 1] AS mime,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
               MD5(text) AS content_md5,
               CAST(((doc_id % 800) * 37) % 800 + 200 AS INT) AS width,
               CAST(((doc_id % 600) * 53) % 600 + 150 AS INT) AS height
        FROM documents
    """,
)
def v8_artifact_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = artifact_table(spark, sf_dir)
    return a.select(
        "doc_id",
        "path",
        "mime",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        "width",
        "height",
    )


@REGISTRY.register(
    name="v8b_image_resize",
    survey_ref="V8",
    doc="aspect-ratio resize to width 600 (image_generation_activity.py:"
    "76-96) through the real mapInPandas seam; the oracle recomputes the "
    "dim arithmetic + md5 in SQL, so the Arrow batch path itself is "
    "hash-checked.",
    oracle=f"""
        SELECT doc_id,
               ['image/png','image/jpeg','image/webp'][CAST(doc_id % 3 AS INT) + 1] AS mime,
               CAST(((doc_id % 800) * 37) % 800 + 200 AS INT) AS width,
               CAST(((doc_id % 600) * 53) % 600 + 150 AS INT) AS height,
               CAST(LEAST(((doc_id % 800) * 37) % 800 + 200, {TARGET_WIDTH}) AS INT) AS new_width,
               CAST(CASE WHEN ((doc_id % 800) * 37) % 800 + 200 > {TARGET_WIDTH}
                    THEN FLOOR({TARGET_WIDTH} * (CAST(((doc_id % 600) * 53) % 600 + 150 AS DOUBLE)
                         / CAST(((doc_id % 800) * 37) % 800 + 200 AS DOUBLE)))
                    ELSE ((doc_id % 600) * 53) % 600 + 150 END AS INT) AS new_height,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
               MD5(text) AS content_md5
        FROM documents
    """,
)
def v8b_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_images(artifact_table(spark, sf_dir))


@REGISTRY.register(
    name="v8c_frame_sample",
    survey_ref="V8/training-data",
    doc="frame sampling for video-like payloads: fixed 64-char frames, "
    "keep every 3rd — posexplode over a JVM-side sequence, no Python.",
    oracle="""
        SELECT d.doc_id, f.frame_no, SUBSTR(d.text, f.frame_no * 64 + 1, 64) AS frame
        FROM documents d,
             LATERAL (SELECT UNNEST(RANGE(0, CAST(CEIL(OCTET_LENGTH(ENCODE(d.text)) / 64.0) AS BIGINT), 3))
                      AS frame_no) f
    """,
)
def v8c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    n_frames = F.ceil(F.octet_length("text") / F.lit(64.0)).cast("bigint")
    starts = F.sequence(F.lit(0).cast("bigint"), n_frames - 1, F.lit(3).cast("bigint"))
    return (
        docs.select("doc_id", "text", F.explode(starts).alias("frame_no"))
        .select(
            "doc_id",
            "frame_no",
            F.substring(F.col("text"), F.col("frame_no").cast("int") * 64 + 1, 64).alias("frame"),
        )
    )


@REGISTRY.register(
    name="f25_base64_roundtrip",
    survey_ref="F25",
    doc="base64 encode/decode of binary payloads "
    "(image_generation_activity.py:70-73).",
    oracle="""
        SELECT doc_id,
               TO_BASE64(ENCODE(SUBSTR(text, 1, 48))) AS b64,
               SUBSTR(text, 1, 48) AS roundtrip
        FROM documents
    """,
)
def f25_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    head = F.encode(F.substring("text", 1, 48), "UTF-8")
    return docs.select(
        "doc_id",
        F.base64(head).alias("b64"),
        F.decode(F.unbase64(F.base64(head)), "UTF-8").alias("roundtrip"),
    )


@REGISTRY.register(
    name="f26_html_escape",
    survey_ref="F26",
    doc="HTML entity escaping (ui/index.html:340 escapeHtml) as a "
    "JVM-side replace chain.",
    oracle="""
        SELECT doc_id,
               REPLACE(REPLACE(REPLACE(
                   '<b>' || SUBSTR(text, 1, 40) || '</b> & "quotes"',
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS escaped
        FROM documents
    """,
)
def f26_html_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    raw = F.concat(F.lit("<b>"), F.substring("text", 1, 40), F.lit('</b> & "quotes"'))
    escaped = F.replace(
        F.replace(F.replace(raw, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )
    return docs.select("doc_id", escaped.alias("escaped"))


def _markdown_fixture(docs: DataFrame) -> DataFrame:
    """Deterministic markdown document per fixture row (the fixture's
    ``text`` is single-line plain prose, so raw docs would exercise
    nothing of the renderer). Built JVM-side from fixture columns;
    covers every renderer rule: h1/h2 headers, bold, inline code, a
    blank line, a whitespace-only line, and a 4-hash non-header edge.
    ``F.get`` (0-based, NULL out of range) mirrors DuckDB's 1-based
    list indexing (NULL out of range), and both concat_ws spellings
    drop NULL lines the same way."""
    words = F.split("text", " ")
    w1, w2 = F.get(words, 0), F.get(words, 1)
    md = F.concat_ws(
        "\n",
        F.concat(F.lit("# Report "), F.col("doc_id").cast("string")),
        F.lit(""),
        F.concat(F.lit("## Summary of **"), w1, F.lit("**")),
        F.substring("text", 1, 80),
        F.lit("   "),
        F.concat(F.lit("`"), w2, F.lit("` inline code")),
        F.lit("#### not a header"),
        F.concat(F.lit("**"), w1, F.lit("** and **"), w2, F.lit("** twice")),
    )
    return docs.select("doc_id", md.alias("text"))


# DuckDB replay of _markdown_fixture (1-based list index, NULL OOR).
_MD_SRC_SQL = """CONCAT_WS(CHR(10),
    '# Report ' || doc_id,
    '',
    '## Summary of **' || (STR_SPLIT(text, ' ')[1]) || '**',
    SUBSTR(text, 1, 80),
    '   ',
    '`' || (STR_SPLIT(text, ' ')[2]) || '` inline code',
    '#### not a header',
    '**' || (STR_SPLIT(text, ' ')[1]) || '** and **' || (STR_SPLIT(text, ' ')[2]) || '** twice')"""


def _md_render_sql(src: str) -> str:
    """DuckDB replay of markdown_to_html's renderer, bit-for-bit: the
    same inline-transform order (bold before code), the same 1-3-hash
    header rule, blank/whitespace-only lines dropped, survivors joined
    with newlines. RE2's non-greedy ``(.+?)`` and ``\\1`` rewrites match
    Python ``re`` on this grammar (both leftmost-first here)."""
    return (
        "ARRAY_TO_STRING(LIST_FILTER(LIST_TRANSFORM(\n"
        "  LIST_TRANSFORM(STR_SPLIT(" + src + ", CHR(10)),\n"
        r"    raw -> REGEXP_REPLACE(REGEXP_REPLACE(raw, '\*\*(.+?)\*\*', '<strong>\1</strong>', 'g'),"
        "\n                           '`([^`]+)`', '<code>\\1</code>', 'g')),\n"
        "  t -> CASE WHEN REGEXP_MATCHES(t, '^#{1,3} ')\n"
        "            THEN '<h' || LEN(REGEXP_EXTRACT(t, '^(#{1,3}) ', 1)) || '>' ||\n"
        "                 REGEXP_EXTRACT(t, '^#{1,3} (.*)$', 1) ||\n"
        "                 '</h' || LEN(REGEXP_EXTRACT(t, '^(#{1,3}) ', 1)) || '>'\n"
        r"            WHEN REGEXP_MATCHES(t, '\S') THEN '<p>' || t || '</p>'"
        "\n            ELSE NULL END), x -> x IS NOT NULL), CHR(10))"
    )


@REGISTRY.register(
    name="f27_markdown_html",
    survey_ref="F27,V9",
    doc="markdown→HTML rendering subset (pdf_generation_activity.py:62-65) "
    "via the Arrow-batched seam, over a deterministic markdown document "
    "synthesized from fixture columns (headers, bold, code, blank/"
    "whitespace/4-hash edge lines). The oracle replays construction AND "
    "render in SQL, so the Python-regex renderer is hash-pinned "
    "bit-for-bit (v8e2 precedent); goldens additionally unit-tested.",
    oracle="""
        WITH md AS (SELECT doc_id, {src} AS mdtext FROM documents)
        SELECT doc_id, {render} AS html FROM md
    """.format(src=_MD_SRC_SQL, render=_md_render_sql("mdtext")),
)
def f27_markdown_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markdown_to_html(_markdown_fixture(load_table(spark, "documents", sf_dir)))


@REGISTRY.register(
    name="v9_print_layout",
    survey_ref="V9",
    doc="paginated print-layout HTML document per report: the markdown "
    "render wrapped in the reference's themed document shell with @page "
    "footer page numbers and page-break rules (pdf_generation_activity"
    ".py:68-88,107-253). Hash-oracled: the oracle composes the f27 "
    "render SQL inside the same shell/theme string constants the Spark "
    "side uses, so shell and content cannot drift.",
    oracle="""
        WITH md AS (SELECT doc_id, {src} AS mdtext FROM documents),
        rendered AS (SELECT doc_id, {render} AS html FROM md)
        SELECT doc_id,
               '<!DOCTYPE html><html><head><meta charset="UTF-8"><title>Research Report '
               || doc_id || '</title><style>{css}</style></head><body>'
               || '<div class="container"><h1 class="document-title">Research Report '
               || doc_id || '</h1><div class="content">' || html
               || '</div></div></body></html>' AS html
        FROM rendered
    """.replace("{src}", _MD_SRC_SQL)
    .replace("{render}", _md_render_sql("mdtext"))
    .replace("{css}", _theme_css(DEFAULT_FONT_SIZE, DEFAULT_PRIMARY_COLOR)),
)
def v9_print_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return print_layout_html(_markdown_fixture(load_table(spark, "documents", sf_dir)))


# ---------------------------------------------------------------------------
# V8d: audio feature extraction seam (mapInPandas; Arrow-batched)
# ---------------------------------------------------------------------------

AUDIO_FRAME = 256  # samples per analysis frame

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
    ]
)


def audio_features(artifacts: DataFrame, frame: int = AUDIO_FRAME) -> DataFrame:
    """Per-frame audio features (RMS energy + peak) over the binary
    payload interpreted as unsigned 8-bit PCM. The REAL decoder
    (soundfile/librosa → float PCM at a sample rate) is not in this
    container; bytes-as-samples is the clearly-marked deterministic
    fake. The Spark side — binary column in, Arrow-batched
    ``mapInPandas``, one output row per frame, map-only (no shuffle) —
    is the production shape either way.

    All arithmetic is exact-integer inside float64 (codes ≤ 255,
    frame sums ≪ 2^53), so the DuckDB oracle reproduces it bit-for-bit
    before the final round.
    """
    import math

    import numpy as np
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_no": [], "rms": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                for f in range(math.ceil(len(x) / frame)):
                    w = x[f * frame : (f + 1) * frame]
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(f)
                    out["rms"].append(round(math.sqrt(float(np.mean(w * w))), 4))
                    out["peak"].append(int(w.max()))
            yield pd.DataFrame(out)

    return artifacts.select("doc_id", "payload").mapInPandas(extract, AUDIO_SCHEMA)


@REGISTRY.register(
    name="v8d_audio_features",
    survey_ref="training-data (multimodal audio)",
    doc="audio feature extraction over binary payloads: per-frame RMS "
    "energy + peak via Arrow-batched mapInPandas (bytes-as-PCM is the "
    "deterministic decode fake; the seam, schema and batch shape are "
    "production-real). Map-only.",
    oracle=f"""
        WITH frames AS (
            SELECT doc_id, text,
                   UNNEST(RANGE(0, CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / {AUDIO_FRAME}.0) AS BIGINT))) AS frame_no
            FROM documents
        ), codes AS (
            SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
                   LIST_TRANSFORM(
                       REGEXP_EXTRACT_ALL(SUBSTR(text, CAST(frame_no * {AUDIO_FRAME} + 1 AS INT), {AUDIO_FRAME}), '(?s).'),
                       c -> CAST(UNICODE(c) AS DOUBLE)) AS xs
            FROM frames
        )
        SELECT doc_id, frame_no,
               ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(xs, x -> x * x)) / LEN(xs)), 4) AS rms,
               CAST(LIST_MAX(xs) AS INT) AS peak
        FROM codes
    """,
)
def v8d_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_features(artifact_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# V8e: perceptual-hash near-duplicate images (aHash + banded hamming join)
# ---------------------------------------------------------------------------

PHASH_BITS = 64
PHASH_BANDS = 4  # 4 × 16-bit bands
PHASH_HAMMING_MAX = 6  # near-dup bar (imagehash library convention ~ ≤ 10/64)

PHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("phash", LongType())]
)

#: SQL replay of ``perceptual_hash`` — `ph` is (doc_id, phash BIGINT).
#: The aHash is pure integer math over payload bytes (= UNICODE code
#: points on this ASCII corpus, exactly as v8d's oracle relies on), so
#: the whole mapInPandas seam is hash-checkable: np.array_split's slice
#: arithmetic is `start_k = k*q + min(k, r)` with q = L//64, r = L%64;
#: the k=0 bit lands on the sign bit, spelled as the BIGINT min to
#: mirror numpy's uint64→int64 two's-complement cast.
_PHASH_SQL_CTE = """
        docs AS (
            SELECT doc_id,
                   LIST_TRANSFORM(REGEXP_EXTRACT_ALL(text, '(?s).'),
                                  c -> CAST(UNICODE(c) AS BIGINT)) AS xs,
                   LEN(REGEXP_EXTRACT_ALL(text, '(?s).')) AS L
            FROM documents
        ), cellsrc AS (
            SELECT d.doc_id, g.k,
                   COALESCE(LIST_SUM(LIST_SLICE(d.xs,
                       CAST(g.k*(d.L//64) + LEAST(g.k, d.L%64) + 1 AS BIGINT),
                       CAST((g.k+1)*(d.L//64) + LEAST(g.k+1, d.L%64) AS BIGINT))), 0)
                   % 256 AS cell
            FROM docs d CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS k) g
        ), cellstats AS (
            SELECT doc_id, AVG(cell) AS mu FROM cellsrc GROUP BY doc_id
        ), ph AS (
            SELECT c.doc_id,
                   CAST(SUM(CASE WHEN c.cell <= s.mu THEN 0
                                 WHEN c.k = 0 THEN (-9223372036854775807 - 1)
                                 ELSE CAST(1 AS BIGINT) << (63 - CAST(c.k AS INT))
                            END) AS BIGINT) AS phash
            FROM cellsrc c JOIN cellstats s USING (doc_id)
            GROUP BY c.doc_id
        )
"""


def perceptual_hash(artifacts: DataFrame) -> DataFrame:
    """(doc_id, phash): 64-bit average-hash of each binary payload.

    Production pipeline: decode → grayscale → downsample to 8×8 →
    threshold each cell against the mean (the classic aHash). The
    decode needs Pillow (absent here), so the grid is a deterministic
    stand-in: cell (k) brightness = sum of payload bytes in the k-th of
    64 contiguous slices, mod 256 — similar payloads produce mostly
    equal cells, so near-duplicate artifacts land at small hamming
    distance exactly as real pixels would. Arrow-batched mapInPandas,
    map-only; the hash is the ONLY thing that leaves the scan (8 bytes
    a row), so at 100 TB the pixel work streams through executors and
    the join below sees compact longs.
    """

    def hash_batch(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_ids = pdf["doc_id"].to_numpy()
            hashes = np.empty(len(pdf), dtype=np.int64)
            for i, payload in enumerate(pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                # 64 contiguous slices (last cells may be shorter)
                cells = np.array(
                    [int(s.sum()) % 256 for s in np.array_split(buf, PHASH_BITS)],
                    dtype=np.int64,
                )
                bits = (cells > cells.mean()).astype(np.uint64)
                h = np.uint64(0)
                for b in bits:
                    h = (h << np.uint64(1)) | b
                hashes[i] = np.int64(h.astype(np.int64))
            yield pd.DataFrame({"doc_id": out_ids, "phash": hashes})

    return artifacts.select("doc_id", "payload").mapInPandas(hash_batch, PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame, hamming_max: int = PHASH_HAMMING_MAX, col: str = "phash"
) -> DataFrame:
    """Near-dup artifact pairs by banded hamming join (d4's discipline
    on the multimodal column): split each 64-bit hash into 4×16-bit
    bands and equi-join on (band_idx, band_val) — never all-pairs; the
    exact bit_count(xor) check prices only band collisions. Pigeonhole
    guarantee: a pair within hamming ≤ 3 (bands−1) ALWAYS shares a
    band; pairs at hamming 4–6 are caught iff their differing bits
    leave some band untouched — the standard LSH recall trade (wider
    bands = selective keys = fewer candidates at scale; completeness
    to the full threshold would need 8×8-bit bands, whose 256-value
    space collides quadratically on a large corpus). JVM-side bit ops
    throughout; the corpus shuffles once on the compact band key.
    ``col`` names the 64-bit signature column — v8e passes its aHash,
    v8h its temporal energy-contour signature (same banding math).
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.shiftright(F.col(col), 16 * k).bitwiseAND(F.lit(0xFFFF)).alias("v"),
            )
            for k in range(PHASH_BANDS)
        ]
    )
    banded = hashes.select("doc_id", col, F.explode(bands).alias("b"))
    a = banded.select(
        F.col("doc_id").alias("a_id"), F.col(col).alias("a_hash"), "b"
    )
    bside = banded.select(
        F.col("doc_id").alias("b_id"), F.col(col).alias("b_hash"), "b"
    )
    hamming = F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash")))
    return (
        a.join(bside, ["b"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
        .dropDuplicates(["a_id", "b_id"])
    )


@REGISTRY.register(
    name="v8e_phash_dedup",
    survey_ref="training-data (multimodal dedup); V8 family",
    doc="near-duplicate image detection over the binary artifact "
    "column: 64-bit perceptual aHash per payload (Arrow mapInPandas "
    "decode seam, deterministic stand-in for the Pillow path) → "
    "4×16-bit banded hamming self-join → exact bit_count verify ≤ 6 "
    "(complete for hamming ≤ 3, LSH-probabilistic above). The aHash "
    "is exact integer math, so the WHOLE pipeline — Python seam, "
    "banding, xor popcount — is hash-oracled (r5 task #7: this was "
    "rows-only through r5); soundness + hamming≤3 completeness are "
    "additionally pinned in tests/test_multimodal.py.",
    oracle=f"""
        WITH {_PHASH_SQL_CTE}, bands AS (
            SELECT doc_id, phash, g.k, (phash >> (16 * g.k)) & 65535 AS v
            FROM ph CROSS JOIN (SELECT UNNEST(RANGE(0, {PHASH_BANDS})) AS k) g
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.phash AS ah, b.phash AS bh
            FROM bands a
            JOIN bands b ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ah, bh)) <= {PHASH_HAMMING_MAX}
    """,
)
def v8e_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the banded self-join is a diamond over the mapInPandas output —
    # persist so the Python stage runs once, not once per join side
    # (cleared by the sweep/driver clearCache between queries)
    hashes = perceptual_hash(artifact_table(spark, sf_dir)).transform(persist_once)
    return phash_near_dup_pairs(hashes).orderBy("a_id", "b_id")


@REGISTRY.register(
    name="v8e2_phash_det",
    survey_ref="training-data (multimodal dedup); v8e's seam twin",
    doc="the raw perceptual-hash table itself, hash-oracled: one "
    "64-bit aHash per binary payload straight off the Arrow "
    "mapInPandas seam, checked bit-for-bit against the SQL replay of "
    "the slice-sum/threshold/pack arithmetic. Where v8e's oracle "
    "checks the near-dup PAIRS (64 rows at sf0.01), this checks every "
    "hash — a sign-bit or bit-order bug that happens not to flip any "
    "pair verdict still fails here. Map-only; 8 bytes/row leave the "
    "scan, so at 100 TB this is a streaming pass over the artifact "
    "store with no shuffle at all.",
    oracle=f"WITH {_PHASH_SQL_CTE} SELECT doc_id, phash FROM ph",
)
def v8e2_phash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    return perceptual_hash(artifact_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# v8f: scene-cut detection over frame sequences
# ---------------------------------------------------------------------------

_SCENE_CUT_DELTA = 8.0  # ≈ p97 of consecutive-frame luma diffs


#: v8f's oracle body (kept as a constant so pipeline_multimodal_prep's
#: oracle can reuse the EXACT same spelling as a subquery — the
#: pipeline_governance composition rule).
_SCENE_CUT_SQL = f"""
        WITH frames AS (
            SELECT d.doc_id, f.frame_no,
                   SUBSTR(d.text, CAST(f.frame_no * 64 + 1 AS INT), 64) AS frame
            FROM documents d,
                 LATERAL (SELECT UNNEST(RANGE(0,
                     CAST(CEIL(OCTET_LENGTH(ENCODE(d.text)) / 64.0) AS BIGINT),
                     1)) AS frame_no) f
        ), feat AS (
            SELECT doc_id, frame_no,
                   ROUND(LIST_AVG(LIST_TRANSFORM(SPLIT(frame, ''),
                                                 x -> UNICODE(x))), 4) AS luma
            FROM frames
        ), diffs AS (
            SELECT doc_id, frame_no, luma,
                   ABS(luma - LAG(luma) OVER (PARTITION BY doc_id
                                              ORDER BY frame_no)) AS delta
            FROM feat
        )
        SELECT doc_id, frame_no, ROUND(delta, 4) AS delta
        FROM diffs WHERE delta >= {_SCENE_CUT_DELTA}
"""


@REGISTRY.register(
    name="v8f_scene_cut",
    survey_ref="V8/training-data (video segmentation)",
    doc="content-detector scene cuts over v8c's frame sequence: each "
    "64-byte frame reduces to one 'luma' scalar (mean byte value — "
    "the deterministic stand-in for decoded-frame luminance, same "
    "seam v8b/v8d stub), a per-video lag window takes consecutive "
    f"diffs, and |Δ| ≥ {_SCENE_CUT_DELTA} marks a cut (~2-3% of "
    "frames) — PySceneDetect's content-detector shape. Map-only "
    "feature extraction (at 100 TB: the Arrow decode seam emits one "
    "scalar per frame, pixels never shuffle) + one video-keyed window "
    "over frame counts bounded per video.",
    oracle=_SCENE_CUT_SQL,
)
def v8f_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scene_cuts(load_table(spark, "documents", sf_dir))


def scene_cuts(docs: DataFrame) -> DataFrame:
    """v8f's (doc_id, frame_no, delta) cut rows over the documents."""
    from pyspark.sql import Window as W

    n_frames = F.ceil(F.octet_length("text") / F.lit(64.0)).cast("bigint")
    starts = F.sequence(F.lit(0).cast("bigint"), n_frames - 1)
    frames = docs.select("doc_id", "text", F.explode(starts).alias("frame_no")).select(
        "doc_id",
        "frame_no",
        F.substring(F.col("text"), F.col("frame_no").cast("int") * 64 + 1, 64).alias(
            "frame"
        ),
    )
    chars = F.filter(F.split(F.col("frame"), ""), lambda x: x != "")
    luma = F.round(
        F.aggregate(
            F.transform(chars, lambda c: F.ascii(c).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.size(chars),
        4,
    )
    feat = frames.select("doc_id", "frame_no", luma.alias("luma"))
    w = W.partitionBy("doc_id").orderBy("frame_no")
    diffs = feat.select(
        "doc_id",
        "frame_no",
        F.abs(F.col("luma") - F.lag("luma").over(w)).alias("delta"),
    )
    return diffs.filter(F.col("delta") >= _SCENE_CUT_DELTA).select(
        "doc_id", "frame_no", F.round("delta", 4).alias("delta")
    )


# ---------------------------------------------------------------------------
# v8h: audio/video near-duplicate detection (temporal energy-contour
# signature + banded hamming join) — the missing multimodal dedup twin
# ---------------------------------------------------------------------------

AV_SLICES = 65  # 65 normalized-time slices → 64 energy-delta bits
AV_HAMMING_MAX = 6  # same near-dup bar as v8e (≤ 6/64 differing deltas)

AV_SIG_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("avsig", LongType())]
)

#: SQL replay of ``av_contour_signature`` — `sig` is (doc_id, avsig
#: BIGINT). Same exact-integer argument as _PHASH_SQL_CTE: bytes are
#: UNICODE code points on this ASCII corpus, np.array_split's slice
#: arithmetic is `start_k = k*q + min(k, r)`, per-slice ENERGY is the
#: integer sum of squared byte values (≤ 126² × 553 ≈ 8.8e6, exact in
#: BIGINT), and the k=0 delta bit lands on the sign bit (two's-
#: complement BIGINT-min spelling, v8e2's proven pack).
_AVSIG_SQL_CTE = f"""
        docs AS (
            SELECT doc_id,
                   LIST_TRANSFORM(REGEXP_EXTRACT_ALL(text, '(?s).'),
                                  c -> CAST(UNICODE(c) AS BIGINT)) AS xs,
                   LEN(REGEXP_EXTRACT_ALL(text, '(?s).')) AS L
            FROM documents
        ), energies AS (
            SELECT d.doc_id, g.k,
                   COALESCE(LIST_SUM(LIST_TRANSFORM(LIST_SLICE(d.xs,
                       CAST(g.k*(d.L//{AV_SLICES}) + LEAST(g.k, d.L%{AV_SLICES}) + 1 AS BIGINT),
                       CAST((g.k+1)*(d.L//{AV_SLICES}) + LEAST(g.k+1, d.L%{AV_SLICES}) AS BIGINT)),
                       x -> x * x)), 0) AS e
            FROM docs d CROSS JOIN (SELECT UNNEST(RANGE(0, {AV_SLICES})) AS k) g
        ), sig AS (
            SELECT a.doc_id,
                   CAST(SUM(CASE WHEN a.e <= b.e THEN 0
                                 WHEN a.k = 0 THEN (-9223372036854775807 - 1)
                                 ELSE CAST(1 AS BIGINT) << (63 - CAST(a.k AS INT))
                            END) AS BIGINT) AS avsig
            FROM energies a JOIN energies b
              ON a.doc_id = b.doc_id AND b.k = a.k + 1
            GROUP BY a.doc_id
        )
"""


def av_contour_signature(artifacts: DataFrame) -> DataFrame:
    """(doc_id, avsig): 64-bit temporal energy-contour signature of
    each binary payload — the audio/video analog of v8e's spatial
    aHash.

    Production pipeline: decode → per-slice signal energy over
    normalized time → threshold each consecutive-slice DELTA
    (Chromaprint/Shazam-style energy-delta fingerprinting; for video,
    the same contour over v8f's per-frame luma). The codec decode
    needs libs absent here, so energy is the deterministic stand-in
    v8d already uses: sum of squared payload bytes per slice. The
    payload splits into 65 equal normalized-time slices
    (np.array_split semantics — length-independent, so a short clip
    and its re-encode align slice-for-slice where absolute framing
    would shear), bit k = [E_k > E_{k+1}]. Delta-sign thresholding is
    gain-invariant (a uniformly louder copy keeps every bit) and
    length-normalized (a re-sampled copy keeps most bits) — exactly
    why the audio-fingerprinting literature thresholds deltas, not
    levels. Arrow-batched mapInPandas, map-only; 8 bytes/row leave
    the scan, so at 100 TB the signal work streams through executors
    and downstream joins see compact longs.
    """

    def sig_batch(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            sigs = np.empty(len(pdf), dtype=np.int64)
            for i, payload in enumerate(pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                e = np.array(
                    [int((s * s).sum()) for s in np.array_split(buf, AV_SLICES)],
                    dtype=np.int64,
                )
                bits = (e[:-1] > e[1:]).astype(np.uint64)
                h = np.uint64(0)
                for b in bits:
                    h = (h << np.uint64(1)) | b
                sigs[i] = np.int64(h.astype(np.int64))
            yield pd.DataFrame({"doc_id": ids, "avsig": sigs})

    return artifacts.select("doc_id", "payload").mapInPandas(sig_batch, AV_SIG_SCHEMA)


@REGISTRY.register(
    name="v8h_av_contour_dedup",
    survey_ref="training-data (multimodal dedup — the audio/video twin "
    "the r11 verdict named as the one missing multimodal curation "
    "face: v8e covers image near-dup, this composes v8d's energy "
    "feature with v8f's temporal structure into a banded near-dup "
    "for time-media payloads)",
    doc="near-duplicate audio/video detection over the binary artifact "
    "column: 64-bit temporal energy-contour signature per payload "
    "(65 normalized-time slices, bit = sign of the consecutive-slice "
    "energy delta — Chromaprint-style, gain-invariant and "
    "length-normalized; Arrow mapInPandas seam, deterministic "
    "stand-in for the codec decode exactly as v8d/v8f stub theirs) → "
    "the SAME 4×16-bit banded hamming self-join discipline as v8e "
    "(complete for hamming ≤ 3, LSH-probabilistic to ≤ 6) → exact "
    "bit_count verify. The signature is exact integer math end to "
    "end, so the whole pipeline — Python seam, slice arithmetic, "
    "delta pack, banding, xor popcount — is hash-oracled. Scale: "
    "map-only signature extraction (payloads never shuffle), one "
    "corpus shuffle on the compact band key, candidates priced by a "
    "popcount; same 100 TB profile as v8e with the same documented "
    "wider-bands-at-scale recall trade.",
    oracle=f"""
        WITH {_AVSIG_SQL_CTE}, bands AS (
            SELECT doc_id, avsig, g.k, (avsig >> (16 * g.k)) & 65535 AS v
            FROM sig CROSS JOIN (SELECT UNNEST(RANGE(0, {PHASH_BANDS})) AS k) g
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.avsig AS ah, b.avsig AS bh
            FROM bands a
            JOIN bands b ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ah, bh)) <= {AV_HAMMING_MAX}
    """,
)
def v8h_av_contour_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted diamond over the Arrow seam, exactly v8e's shape
    sigs = av_contour_signature(artifact_table(spark, sf_dir)).transform(persist_once)
    return phash_near_dup_pairs(sigs, hamming_max=AV_HAMMING_MAX, col="avsig")


@REGISTRY.register(
    name="v8h2_av_signature_det",
    survey_ref="training-data (multimodal dedup); v8h's seam twin, the "
    "v8e2 discipline",
    doc="the raw temporal energy-contour signature table itself, "
    "hash-oracled bit-for-bit: one 64-bit delta-sign signature per "
    "binary payload straight off the Arrow mapInPandas seam, checked "
    "against the SQL replay of the slice/energy/pack arithmetic. "
    "Where v8h's oracle checks the near-dup PAIRS, this checks every "
    "signature — a sign-bit, slice-boundary, or bit-order bug that "
    "happens not to flip any pair verdict still fails here (why v8e2 "
    "exists beside v8e). Map-only, no shuffle at all.",
    oracle=f"WITH {_AVSIG_SQL_CTE} SELECT doc_id, avsig FROM sig",
)
def v8h2_av_signature_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    return av_contour_signature(artifact_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# pipeline: multimodal training-data preparation
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="pipeline_multimodal_prep",
    survey_ref="training-data (multimodal funnel: v8e ∘ v8b ∘ v8c ∘ v8f)",
    doc="the multimodal sibling of pipeline_training_prep, as ONE "
    "plan: perceptual-hash near-dup removal (v8e pairs, smaller id "
    "is canonical) → resize plan for survivors (v8b) → per-artifact "
    "frame and scene-cut counts (v8c/v8f) joined into a prep "
    "manifest — the row a vision/video training job reads per "
    "artifact. The Arrow hash stage runs once (persisted diamond); "
    "pixels never shuffle — only 8-byte hashes, dims, and per-frame "
    "scalars move; the dedup anti-join carries compact ids. Since r6 "
    "the WHOLE funnel is hash-oracled (the aHash replays in SQL, the "
    "resize/frame/cut arithmetic always did): the oracle composes the "
    "v8e pair spelling, the reference resize formula (int() = FLOOR "
    "on positives — DuckDB CAST would round), and v8f's EXACT oracle "
    "string as a subquery, so the composition can never drift from "
    "its parts. Set algebra additionally pinned in "
    "tests/test_multimodal.py.",
    oracle=f"""
        WITH {_PHASH_SQL_CTE}, bands AS (
            SELECT doc_id, phash, g.k, (phash >> (16 * g.k)) & 65535 AS v
            FROM ph CROSS JOIN (SELECT UNNEST(RANGE(0, {PHASH_BANDS})) AS k) g
        ), dropped AS (
            SELECT DISTINCT b.doc_id
            FROM bands a
            JOIN bands b ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
        ), survivors AS (
            SELECT doc_id, text,
                   ['image/png','image/jpeg','image/webp']
                       [CAST(doc_id % 3 AS INT) + 1] AS mime,
                   ((doc_id % 800) * 37) % 800 + 200 AS width,
                   ((doc_id % 600) * 53) % 600 + 150 AS height
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        ), cuts AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cuts
            FROM ({_SCENE_CUT_SQL}) GROUP BY doc_id
        )
        SELECT s.doc_id, s.mime,
               CAST(CASE WHEN s.width > {TARGET_WIDTH} THEN {TARGET_WIDTH}
                         ELSE s.width END AS INT) AS new_width,
               CAST(CASE WHEN s.width > {TARGET_WIDTH}
                         THEN FLOOR({TARGET_WIDTH}
                                    * (s.height / CAST(s.width AS DOUBLE)))
                         ELSE s.height END AS INT) AS new_height,
               CAST(CEIL(OCTET_LENGTH(ENCODE(s.text)) / 64.0) AS BIGINT)
                   AS n_frames,
               COALESCE(c.n_cuts, 0) AS n_cuts
        FROM survivors s LEFT JOIN cuts c USING (doc_id)
    """,
)
def pipeline_multimodal_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    arts = artifact_table(spark, sf_dir)
    hashes = perceptual_hash(arts).transform(persist_once)
    pairs = phash_near_dup_pairs(hashes)
    # smaller id is canonical — exactly d9's keep rule on the v8e pairs
    dropped = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    survivors = arts.join(dropped, "doc_id", "left_anti")

    resized = resize_images(survivors).select(
        "doc_id", "mime", "new_width", "new_height"
    )
    n_frames = F.ceil(F.octet_length("payload") / F.lit(64.0)).cast("bigint")
    frames = survivors.select("doc_id", n_frames.alias("n_frames"))
    cuts = (
        scene_cuts(load_table(spark, "documents", sf_dir))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_cuts"))
    )
    return (
        resized.join(frames, "doc_id")
        .join(cuts, "doc_id", "left")
        .select(
            "doc_id",
            "mime",
            "new_width",
            "new_height",
            "n_frames",
            F.coalesce(F.col("n_cuts"), F.lit(0)).cast("bigint").alias("n_cuts"),
        )
    )


# ---------------------------------------------------------------------------
# v8g: corrupt-blob detection (magic bytes vs declared mime)
# ---------------------------------------------------------------------------

# printable stand-ins for the real magic byte sequences (the container
# has no image libs — the frame layout, not the codec, is under test)
_MAGICS = {"image/png": "<89PNG>", "image/jpeg": "<FFD8FF>", "image/webp": "<RIFF>"}
_MIN_BYTES = 12


@REGISTRY.register(
    name="v8g_corrupt_blobs",
    survey_ref="V8 extra (multimodal ingest QA)",
    doc="corrupt-artifact triage before any decode is paid: each blob's "
    "leading magic bytes must match its DECLARED mime and the payload "
    "must clear a minimum length — the two checks that catch "
    "truncated downloads and mislabeled content at ingest, per-row "
    "and map-only, reading ONLY a prefix of each blob (at 100 TB: "
    "a range-read of the first KB, never full payloads). Verdicts: "
    "ok / bad_magic (planted: doc_id%13 carries another format's "
    "magic) / truncated (planted: doc_id%19 cut to 4 bytes; "
    "truncation outranks magic). The Spark side validates REAL binary "
    "columns (substring+decode over BinaryType); the oracle re-derives "
    "the same verdicts from the generative rule.",
    oracle=f"""
        WITH framed AS (
            SELECT doc_id,
                   ['image/png','image/jpeg','image/webp'][CAST(doc_id % 3 AS INT) + 1] AS mime,
                   ['<89PNG>','<FFD8FF>','<RIFF>'][CAST(doc_id % 3 AS INT) + 1] AS own_magic,
                   ['<89PNG>','<FFD8FF>','<RIFF>'][CAST((doc_id + 1) % 3 AS INT) + 1] AS wrong_magic,
                   text
            FROM documents
        ), blob AS (
            SELECT doc_id, mime,
                   CASE WHEN doc_id % 19 = 0
                        THEN SUBSTRING(CASE WHEN doc_id % 13 = 0
                                            THEN wrong_magic || text
                                            ELSE own_magic || text END, 1, 4)
                        WHEN doc_id % 13 = 0 THEN wrong_magic || text
                        ELSE own_magic || text END AS content
            FROM framed
        )
        SELECT b.doc_id, b.mime,
               CAST(OCTET_LENGTH(ENCODE(b.content)) AS BIGINT) AS n_bytes,
               CASE WHEN OCTET_LENGTH(ENCODE(b.content)) < {_MIN_BYTES} THEN 'truncated'
                    WHEN NOT STARTS_WITH(b.content, f.own_magic) THEN 'bad_magic'
                    ELSE 'ok' END AS verdict
        FROM blob b JOIN framed f ON b.doc_id = f.doc_id
    """,
)
def v8g_corrupt_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    own = F.element_at(
        F.array(*[F.lit(_MAGICS[m]) for m in _MIMES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    wrong = F.element_at(
        F.array(*[F.lit(_MAGICS[m]) for m in _MIMES]),
        ((F.col("doc_id") + 1) % 3 + 1).cast("int"),
    )
    mime = F.element_at(
        F.array(*[F.lit(m) for m in _MIMES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    content = F.when(F.col("doc_id") % 13 == 0, F.concat(wrong, F.col("text"))).otherwise(
        F.concat(own, F.col("text"))
    )
    content = F.when(F.col("doc_id") % 19 == 0, F.substring(content, 1, 4)).otherwise(content)
    # the artifact frame: a REAL BinaryType payload column, as ingested
    blobs = docs.select(
        "doc_id", mime.alias("mime"), own.alias("own_magic"),
        F.encode(content, "UTF-8").alias("payload"),
    )
    # prefix-only validation on the binary column: slice bytes, decode
    prefix = F.decode(F.substring(F.col("payload"), 1, 8), "UTF-8")
    return blobs.select(
        "doc_id",
        "mime",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.when(F.octet_length("payload") < _MIN_BYTES, "truncated")
        .when(~prefix.startswith(F.col("own_magic")), "bad_magic")
        .otherwise("ok")
        .alias("verdict"),
    )
