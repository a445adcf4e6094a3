"""The extraction pipeline: interleaved documents -> ordered text spans.

Spark-first layout of the reference's page loop (reference
core/parallel_processor.py:79-117 runs segment -> detect -> OCR per
page in a thread pool; here the same stages are one ``mapInPandas``
Arrow stage over a salted-repartitioned page table):

  documents (doc_id, spans[])                 media (media_ref, image_bytes)
        |  posexplode                                    |
  text spans        image spans --join media_ref--> pages
        |                                               | salted repartition
        |                              mapInPandas kernel: decode PNG ->
        |                              bubble CC segmentation -> OCR ->
        |                              RTL/TTB reading rank
        |                                               |
        +------------------- unionByName ---------------+
                              |
          window row_number over (doc_id | offset, bubble_rank)
                              |
          (doc_id, kind='text', text, media_ref, order)

Scale notes (the 100 TB story):
- the kernel stage's unit of work is a PAGE, and the repartition key is
  (doc_id, salt-bucket-of-media_ref) — a 10,000-page doc spreads over
  all salt buckets instead of pinning one task (north_rule skew
  handling; AQE cannot rebalance mapInPandas input, so this is
  explicit);
- Arrow batches are bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  (set low in session.py — the analog of the reference's seg_limit
  pixel budget, lib/SickZil-Machine/src/core.py:21);
- empty-OCR bubbles are dropped BEFORE numbering, replicating the
  reference's `sequence` increment-only-on-text rule
  (modules/ocr.py:137-146);
- the final window is the only doc-keyed shuffle; everything upstream
  is page-keyed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

SALT_BUCKETS = 16

OCR_SCHEMA = (
    "doc_id string, offset int, media_ref string, bubble_rank int, text string, "
    "x1 int, y1 int, x2 int, y2 int"
)
_OCR_COLS = ["doc_id", "offset", "media_ref", "bubble_rank", "text", "x1", "y1", "x2", "y2"]


def _kernel(engine_name: str, furigana: bool = False, robust: bool = False):
    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Imports inside the task: executors only need the package, and
        # the engine is constructed once per task, not per row/batch.
        from ..kernels.furigana import remove_furigana
        from ..kernels.image_ops import extract_page_regions
        from ..kernels.ocr import get_engine
        from ..sources.decode import decode_gray_image

        engine = get_engine(engine_name)
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, offset, ref, png in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["image_bytes"]
            ):
                try:
                    img = decode_gray_image(bytes(png))
                    regions = extract_page_regions(img, robust=robust)
                except Exception:
                    # Corrupt/undecodable page: the reference drops failed
                    # pages (parallel_processor.py:180-184); at corpus
                    # scale silent loss is unacceptable, so emit a
                    # FAILURE MARKER row (bubble_rank = -1, empty text) —
                    # filtered out of spans by the empty-text rule but
                    # countable by the lineage stats.
                    rows.append((doc_id, int(offset), ref, -1, "", 0, 0, 0, 0))
                    continue
                if furigana:
                    # K18/K19 + the reference's empty-retry rule
                    # (modules/ocr.py:147-167): OCR the furigana-stripped
                    # crop; fall back to the unfiltered crop when empty.
                    texts = engine.decode_batch([remove_furigana(r.ink) for r in regions])
                    retry_idx = [i for i, t in enumerate(texts) if not t]
                    if retry_idx:
                        retried = engine.decode_batch([regions[i].ink for i in retry_idx])
                        for i, t in zip(retry_idx, retried):
                            texts[i] = t
                else:
                    texts = engine.decode_batch([r.ink for r in regions])
                for r, t in zip(regions, texts):
                    rows.append(
                        (doc_id, int(offset), ref, r.reading_rank, t, r.x1, r.y1, r.x2, r.y2)
                    )
            yield pd.DataFrame(rows, columns=_OCR_COLS)

    return kern


def _well_split(scan: DataFrame) -> bool:
    """A page-granular-enough scan (>= cluster parallelism splits) maps
    the kernel straight over it — no image-byte shuffle. An under-split
    scan takes the salted repartition (pays the byte shuffle to buy
    parallelism and kill doc-grouping skew). ``.rdd`` on a bare or
    filtered scan only lists files; it runs no job."""
    return scan.rdd.getNumPartitions() >= scan.sparkSession.sparkContext.defaultParallelism


def ocr_pages(
    pages: DataFrame,
    engine: str = "glyph",
    num_partitions: int | None = None,
    furigana: bool = False,
    robust: bool = False,
) -> DataFrame:
    """(doc_id, offset, media_ref, image_bytes) -> one row per detected
    bubble.

    The kernel's unit of work is a PAGE, so a page-granular input
    layout (the media table bucket-partitioned by media_ref; locally,
    parquet splits under files.maxPartitionBytes) already has no
    doc-skew — a 10,000-page doc is just 10,000 independent rows. In
    that case the kernel maps directly over the scan: shuffling the
    image bytes would cost more than the kernel itself (measured ~6s
    shuffle vs ~4s kernel on an 840 MB corpus).

    The salted repartition (key = doc_id + hash-bucket of media_ref,
    north_rule skew handling) is for inputs that arrive doc-grouped or
    under-split — e.g. pages exploded from per-doc arrays, or a scan
    with fewer splits than cores. ``num_partitions``: 0 = map directly
    (no repartition), None = salted repartition into 3x parallelism,
    N = into N partitions. ``extract_spans`` picks automatically with
    ``_well_split``; the chunk runner picks from a chunk's task budget.
    """
    if num_partitions == 0:
        return pages.mapInPandas(_kernel(engine, furigana, robust), OCR_SCHEMA)
    sc = pages.sparkSession.sparkContext
    salt = F.pmod(F.xxhash64("media_ref"), F.lit(SALT_BUCKETS))
    key = F.concat_ws("#", F.col("doc_id"), salt.cast("string"))
    # 3x parallelism: small enough tasks to balance residual salt-bucket
    # skew, large enough to amortize Python-worker startup per task.
    n = num_partitions or 3 * sc.defaultParallelism
    return pages.repartition(n, key).mapInPandas(_kernel(engine, furigana, robust), OCR_SCHEMA)


def extract_spans(
    docs: DataFrame,
    media: DataFrame,
    engine: str = "glyph",
    furigana: bool = False,
    robust: bool = False,
) -> DataFrame:
    """Full pipeline: returns (doc_id, kind, text, media_ref, order).

    Image bytes cross the wire exactly ONCE (the salted repartition
    feeding the kernel): the span metadata side of the media join is
    broadcast, so the heavy media table is never shuffled for the join
    itself. Inputs whose metadata exceeds broadcast limits go through
    the chunked runner (``pipeline.checkpoint.run_extraction``), whose
    staging join is not forced to broadcast."""
    spans = docs.select("doc_id", F.explode("spans").alias("sp")).select(
        "doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.offset"
    )
    meta = spans.filter(F.col("kind") == "image").select("doc_id", "offset", "media_ref")
    pages = media.select("media_ref", "image_bytes").join(F.broadcast(meta), "media_ref")
    ocr = ocr_pages(
        pages,
        engine=engine,
        num_partitions=0 if _well_split(media) else None,
        furigana=furigana,
        robust=robust,
    )
    return number_spans(spans, ocr)


def number_spans(spans: DataFrame, ocr: DataFrame) -> DataFrame:
    """Union text spans with OCR spans and assign the dense per-doc
    `order` (empty OCR text dropped before numbering)."""
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "offset",
        F.lit(0).alias("bubble_rank"),
        "text",
        F.lit("").alias("media_ref"),
    )
    ocr_spans = ocr.filter(F.col("text") != "").select(
        "doc_id", "offset", "bubble_rank", "text", "media_ref"
    )
    numbered = text_spans.unionByName(ocr_spans).withColumn(
        "order",
        F.row_number().over(W.partitionBy("doc_id").orderBy("offset", "bubble_rank")) - 1,
    )
    return numbered.select(
        "doc_id", F.lit("text").alias("kind"), "text", "media_ref", F.col("order").cast("int")
    )
