"""S6 cover pipeline tests: the bytes half the oracle can't check
(thumbnail content), the upsert MERGE semantics, and path-form keys."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus
from mangaextractor_spark.fixtures.spark_io import media_to_spark
from mangaextractor_spark.functions.covers import covers, upsert_covers
from mangaextractor_spark.functions.multimodal import block_average_downscale
from mangaextractor_spark.sources.decode import decode_gray_image


@pytest.fixture(scope="module")
def cover_corpus():
    return generate_corpus(CorpusSpec(n_docs=10, seed=42, p_cover=0.8))


def test_cover_thumbnail_bytes_match_kernel(spark, cover_corpus):
    media_pdf = cover_corpus["media"]
    media = media_to_spark(spark, media_pdf)
    out = {r.doc_id: r for r in covers(media).collect()}
    capa = media_pdf[media_pdf["media_ref"].str.contains("#capa")]
    assert len(out) == len(capa) > 0
    for _, m in capa.iterrows():
        doc_id = m["media_ref"].split("#")[0]
        row = out[doc_id]
        orig = decode_gray_image(bytes(m["image_bytes"]))
        expected = block_average_downscale(orig, 616)
        got = decode_gray_image(bytes(row.cover_bytes))  # jpeg roundtrip
        assert got.shape == expected.shape == (row.thumb_h, row.thumb_w)
        assert np.abs(got.astype(int) - expected.astype(int)).mean() < 4.0
        assert (row.orig_w, row.orig_h) == (orig.shape[1], orig.shape[0])
        assert row.extension == "jpg"


def test_covers_pick_first_file_in_capa_dir(spark):
    """Path-form markers ('dir/capa/file') key on the capa dir's parent
    and pick the sorted-first file (reference processor.py:287-292)."""
    blank = bytes(
        __import__("mangaextractor_spark.fixtures.png", fromlist=["encode_gray_png"])
        .encode_gray_png(np.full((40, 30), 200, dtype=np.uint8))
    )
    media = media_to_spark(
        spark,
        pd.DataFrame(
            [
                {"media_ref": "MangaA/vol1/capa/b.png", "image_bytes": blank,
                 "width": 30, "height": 40, "page_md5": "x"},
                {"media_ref": "MangaA/vol1/capa/a.png", "image_bytes": blank,
                 "width": 30, "height": 40, "page_md5": "x"},
                {"media_ref": "MangaA/vol1/page1.png", "image_bytes": blank,
                 "width": 30, "height": 40, "page_md5": "x"},
            ]
        ),
    )
    rows = covers(media).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == "MangaA/vol1"
    assert rows[0].media_ref == "MangaA/vol1/capa/a.png"
    assert rows[0].file_name == "a.png"


def test_upsert_covers_merge_semantics(spark, cover_corpus):
    media = media_to_spark(spark, cover_corpus["media"])
    existing = covers(media)
    n = existing.count()
    # re-ingest one cover (e.g. re-scanned volume): replaces, not appends
    incoming = existing.limit(1).withColumn(
        "file_name", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("new.jpg")
    )
    merged = upsert_covers(existing, incoming)
    assert merged.count() == n
    key = incoming.first().doc_id
    assert merged.filter(f"doc_id = '{key}'").first().file_name == "new.jpg"


def test_color_cover_thumbnails(spark):
    """Color (type-2 PNG) capa sources produce COLOR 4:2:0 JPEG
    thumbnails (3-component SOF) whose pixels match the channel-wise
    block-average downscale — the reference's PIL RGB-convert + jpg
    save (processor.py:219-233)."""
    from mangaextractor_spark.sources.decode import decode_rgb_image, jpeg_dimensions

    corpus = generate_corpus(
        CorpusSpec(n_docs=8, seed=42, p_cover=0.9, color_covers=True)
    )
    media = media_to_spark(spark, corpus["media"])
    rows = covers(media).collect()
    assert rows
    capa = (
        corpus["media"][corpus["media"]["media_ref"].str.contains("#capa")]
        .set_index("media_ref")
    )
    for r in rows:
        dims = jpeg_dimensions(bytes(r.cover_bytes))
        assert dims is not None and dims[3] == 3  # 3-component thumbnail
        src = decode_rgb_image(bytes(capa.loc[r.media_ref]["image_bytes"]))
        expected = block_average_downscale(src, 616)
        got = decode_rgb_image(bytes(r.cover_bytes))
        assert got.shape == expected.shape == (r.thumb_h, r.thumb_w, 3)
        assert np.abs(got.astype(int) - expected.astype(int)).mean() < 6.0


def test_corrupt_png_cover_is_marker_row_not_crash(spark):
    """zlib-level corruption (valid PNG header, broken IDAT) must become
    a failure-marker cover row, not a job failure."""
    import numpy as np
    import pandas as pd

    from mangaextractor_spark.fixtures.png import encode_gray_png
    from mangaextractor_spark.functions.covers import covers
    from mangaextractor_spark.fixtures.spark_io import media_to_spark

    good = encode_gray_png(np.full((40, 30), 200, dtype=np.uint8))
    corrupt = bytearray(good)
    corrupt[40:60] = b"\x00" * 20  # wreck the IDAT payload
    media = media_to_spark(
        spark,
        pd.DataFrame(
            [
                {"media_ref": "A/capa/ok.png", "image_bytes": bytes(good),
                 "width": 30, "height": 40, "page_md5": "x"},
                {"media_ref": "B/capa/bad.png", "image_bytes": bytes(corrupt),
                 "width": 30, "height": 40, "page_md5": "y"},
            ]
        ),
    )
    rows = {r.doc_id: r for r in covers(media).collect()}
    assert rows["A"].cover_bytes is not None
    assert rows["B"].cover_bytes is None  # marker row, job survived
    assert (rows["B"].orig_w, rows["B"].thumb_w) == (0, 0)
