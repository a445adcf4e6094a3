"""The flagship extraction pipeline exposed on the driver surface.

Non-SQL-expressible (Arrow image kernels), so there is no DuckDB
oracle — the driver records a rows-only check; exact span-sequence
correctness is asserted by tests/test_pipeline_e2e.py against the
golden fixture table (kind, text, media_ref, order equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register


def _with_span_digest(spans: DataFrame) -> DataFrame:
    """Append a deterministic per-row digest so the driver's rows-only
    check still carries a content signal: a kernel regression that
    keeps the row COUNT stable still changes every row's digest (and
    with it any recorded value-hash), instead of hiding behind the
    count. ``\\x1f`` (unit separator) cannot appear in the span fields,
    so the concat is injective."""
    return spans.withColumn(
        "span_digest",
        F.md5(
            F.concat_ws(
                "",
                "doc_id",
                F.col("order").cast("string"),
                "kind",
                "text",
                "media_ref",
            ).cast("binary")
        ),
    )


@register(
    "extract_manga_spans",
    None,
    doc="Full manga extraction pipeline on a deterministic synthetic "
    "MIXED-FORMAT corpus (seed=42; PNG + grayscale JPEG + color 4:2:0 "
    "JPEG pages): interleaved doc spans -> page decode (all codec "
    "variants) -> robust cleaning-ladder segmentation (K4-K15 "
    "composition, robust=True) -> OCR -> RTL/TTB ordering -> numbered "
    "span table + per-row span_digest (md5 over every span field) so "
    "the rows-only driver record still carries a content signal.",
    tags=("extraction", "pipeline"),
)
def extract_manga_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures.generator import CorpusSpec, generate_corpus
    from ..fixtures.spark_io import docs_to_spark, media_to_spark
    from ..pipeline.extract import extract_spans

    corpus = generate_corpus(
        CorpusSpec(n_docs=16, seed=42, p_jpeg=0.3, p_color_jpeg=0.5)
    )
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, corpus["media"])
    return _with_span_digest(extract_spans(docs, media, robust=True))


@register(
    "media_ops",
    None,  # binary-media kernels have no SQL twin -> rows-only check;
    # exact values are asserted against fixture parameters in tests.
    doc="Multimodal column operators over a MIXED-FORMAT synthetic media "
    "table (PNG + grayscale JPEG + color 4:2:0 JPEG, baseline and "
    "progressive): header metadata (format/width/height/bit_depth/"
    "n_channels), content md5, and P8 block-average thumbnails (every "
    "decoder variant exercised) — joined into one row per page. All "
    "three are single-scan mapInPandas/Column stages (no shuffle before "
    "the join, same media_ref partitioning). No cosmetic orderBy: the "
    "driver compare is order-insensitive and a final sort would "
    "range-sample-re-execute the kernels.",
    tags=("multimodal",),
)
def media_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures.generator import CorpusSpec, generate_corpus
    from ..fixtures.spark_io import media_to_spark
    from ..functions.multimodal import media_metadata, thumbnails

    corpus = generate_corpus(
        CorpusSpec(n_docs=12, seed=42, p_jpeg=0.5, p_color_jpeg=0.5)
    )
    media = media_to_spark(spark, corpus["media"])
    meta = media_metadata(media)  # includes the P4 content_md5
    th = thumbnails(media).select("media_ref", "thumb_w", "thumb_h")
    return meta.join(th, "media_ref").select(
        "media_ref", "format", "width", "height", "bit_depth",
        "n_channels", "n_bytes", "content_md5", "thumb_w", "thumb_h",
    )


@register(
    "extract_manga_spans_vertical",
    None,
    doc="Extraction pipeline in tategaki mode: vertical-text pages with "
    "planted furigana ruby columns (seed=44); ruby stripped (K18/K19) "
    "before the vertical glyph decode. Exact span equality vs the "
    "generation golden is asserted in tests/test_pipeline_e2e.py; "
    "per-row span_digest as in extract_manga_spans.",
    tags=("extraction", "pipeline"),
)
def extract_manga_spans_vertical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures.generator import CorpusSpec, generate_corpus
    from ..fixtures.spark_io import docs_to_spark, media_to_spark
    from ..pipeline.extract import extract_spans

    corpus = generate_corpus(
        CorpusSpec(n_docs=12, seed=44, vertical_text=True, p_furigana=0.6)
    )
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, corpus["media"])
    return _with_span_digest(
        extract_spans(docs, media, engine="glyph_vertical", furigana=True, robust=True)
    )
