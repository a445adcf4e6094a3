"""Resume/lineage tests (north_rule: per-partition lineage rows; a
killed job resumes at partition granularity) — the engine analog of
the reference's `concluido/` move + is_processado flags
(reference core/processor.py:331-338, README.md:48).
"""

from __future__ import annotations

import pytest

from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus
from mangaextractor_spark.fixtures.spark_io import docs_to_spark, media_to_spark
from mangaextractor_spark.pipeline.checkpoint import (
    ChunkFailure,
    completed_chunks,
    run_extraction,
)

N_CHUNKS = 4


@pytest.fixture(scope="module")
def corpus_dfs(spark):
    corpus = generate_corpus(CorpusSpec(n_docs=12, seed=5))
    return docs_to_spark(spark, corpus["documents"]), media_to_spark(spark, corpus["media"])


def _collect_sorted(df):
    return sorted(
        (r.doc_id, r.kind, r.text, r.media_ref, r.order)
        for r in df.select("doc_id", "kind", "text", "media_ref", "order").collect()
    )


@pytest.mark.parametrize("kill", [0, 2, N_CHUNKS - 1])
def test_kill_and_resume_equals_clean_run(spark, corpus_dfs, tmp_path, kill):
    docs, media = corpus_dfs
    clean = run_extraction(spark, docs, media, str(tmp_path / "clean"), n_chunks=N_CHUNKS)
    clean_rows = _collect_sorted(clean)

    out = str(tmp_path / "resumed")
    with pytest.raises(ChunkFailure):
        run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, fail_on_chunk=kill)
    done_before = completed_chunks(out, "done")
    assert done_before == set(range(kill)), "chunks before the failure must be committed"

    resumed = run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    assert _collect_sorted(resumed) == clean_rows

    lineage = spark.read.parquet(f"{out}/_lineage")
    rows = lineage.collect()
    assert {r.chunk for r in rows} == set(range(N_CHUNKS))
    # chunks before the kill were written once (first run), the rest once (resume): no rework
    assert len(rows) == N_CHUNKS
    for r in rows:
        assert r.status == "done"
        assert r.n_bubbles >= 0 and r.wall_ms >= 0
        assert r.doc_id_min <= r.doc_id_max


def test_rerun_of_complete_output_is_noop_for_chunks(spark, corpus_dfs, tmp_path):
    docs, media = corpus_dfs
    out = str(tmp_path / "full")
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    lineage1 = spark.read.parquet(f"{out}/_lineage").count()
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    lineage2 = spark.read.parquet(f"{out}/_lineage").count()
    assert lineage1 == lineage2 == N_CHUNKS  # no chunk re-executed


def test_corrupt_page_is_counted_not_fatal(spark, tmp_path):
    """A corrupt image must not kill the job (the reference drops failed
    pages, parallel_processor.py:180-184): its page contributes no
    spans, every other page is unaffected, and the lineage rows count
    it (n_failed_pages)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mangaextractor_spark.fixtures.generator import CorpusSpec, generate_corpus
    from mangaextractor_spark.fixtures.spark_io import docs_to_spark, media_to_spark
    from mangaextractor_spark.pipeline.extract import extract_spans

    corpus = generate_corpus(CorpusSpec(n_docs=6, seed=8))
    media_pdf = corpus["media"].copy()
    bad_ref = media_pdf.iloc[0]["media_ref"]
    media_pdf.loc[media_pdf["media_ref"] == bad_ref, "image_bytes"] = b"not a png"
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, media_pdf)

    spans = extract_spans(docs, media)
    assert spans.filter(F.col("media_ref") == bad_ref).count() == 0
    good = extract_spans(docs, media_to_spark(spark, corpus["media"]))
    assert (
        spans.count()
        == good.filter(F.col("media_ref") != bad_ref).count()
    )

    out = str(tmp_path / "faulty")
    run_extraction(spark, docs, media, out, n_chunks=2)
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.agg(F.sum("n_failed_pages")).first()[0] == 1


def test_lineage_counts_blank_pages(spark, tmp_path):
    """A page with no regions (a white page gives none in robust mode)
    still counts: the lineage n_pages sum equals the distinct staged
    pages, not the pages that produced OCR rows."""
    import numpy as np

    from mangaextractor_spark.fixtures.png import encode_gray_png

    corpus = generate_corpus(CorpusSpec(n_docs=6, seed=8))
    media_pdf = corpus["media"].copy()
    blank = np.full((600, 420), 255, dtype=np.uint8)
    media_pdf.loc[0, "image_bytes"] = encode_gray_png(blank)
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, media_pdf)

    out = str(tmp_path / "blank")
    run_extraction(spark, docs, media, out, n_chunks=2, robust=True)
    staged_pages = spark.read.parquet(f"{out}/_pages").select("media_ref").distinct().count()
    ocr_pages = spark.read.parquet(f"{out}/ocr").select("media_ref").distinct().count()
    assert ocr_pages < staged_pages, "the blank page must yield no OCR rows"
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.agg({"n_pages": "sum"}).first()[0] == staged_pages


def test_resume_never_rescans_media(spark, tmp_path):
    """Behavioral proof of the single-pass design: the media table is
    scanned only while materializing the chunk-partitioned page table.
    A resumed run must complete even if the ORIGINAL media files are
    gone — it reads the committed staging table, not the source."""
    import shutil

    corpus = generate_corpus(CorpusSpec(n_docs=8, seed=17))
    media_dir = str(tmp_path / "media_src")
    media_to_spark(spark, corpus["media"]).write.parquet(media_dir)
    docs = docs_to_spark(spark, corpus["documents"])
    media = spark.read.parquet(media_dir)

    out = str(tmp_path / "out")
    with pytest.raises(ChunkFailure):
        run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, fail_on_chunk=2)

    shutil.rmtree(media_dir)  # source vanishes between runs
    resumed = run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    clean = generate_corpus(CorpusSpec(n_docs=8, seed=17))["golden_spans"]
    got = _collect_sorted(resumed)
    exp = sorted(
        (r.doc_id, "text", r.text, r.media_ref, r.order)
        for r in clean.itertuples()
    )
    assert got == exp


def test_chunked_run_robust_mode(spark, tmp_path):
    """run_extraction(robust=True) drives the cleaning ladder through
    the chunked/lineage path and still matches the generation golden."""
    corpus = generate_corpus(CorpusSpec(n_docs=6, seed=23))
    docs = docs_to_spark(spark, corpus["documents"])
    media = media_to_spark(spark, corpus["media"])
    out = run_extraction(spark, docs, media, str(tmp_path / "r"), n_chunks=2, robust=True)
    got = _collect_sorted(out)
    exp = sorted(
        (r.doc_id, "text", r.text, r.media_ref, r.order)
        for r in corpus["golden_spans"].itertuples()
    )
    assert got == exp


def test_staging_nchunks_mismatch_fails_fast(spark, corpus_dfs, tmp_path):
    """Resuming into an out_dir staged with a different n_chunks must
    raise, not silently skip pages whose stored chunk >= n_chunks."""
    docs, media = corpus_dfs
    out = str(tmp_path / "m")
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    with pytest.raises(ChunkFailure, match="n_chunks"):
        run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS - 2)
    # same n_chunks still resumes fine (no-op)
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)


def test_covers_resume_from_staging(spark, tmp_path):
    """S6 covers ride the chunk runner: cover candidates are staged at
    materialization, committed under a covers_done lineage row, and a
    resumed run completes covers WITHOUT the media source (deleted
    between runs) and without re-running finished OCR chunks."""
    import shutil

    from mangaextractor_spark.functions.covers import covers
    corpus = generate_corpus(CorpusSpec(n_docs=10, seed=31, p_cover=0.8))
    media_dir = str(tmp_path / "media_src")
    media_to_spark(spark, corpus["media"]).write.parquet(media_dir)
    docs = docs_to_spark(spark, corpus["documents"])
    media = spark.read.parquet(media_dir)

    expected = sorted(
        (r.doc_id, r.media_ref, r.thumb_w, r.thumb_h)
        for r in covers(media).collect()
    )
    assert expected, "fixture must actually contain covers"

    out = str(tmp_path / "out")
    with pytest.raises(ChunkFailure, match="covers"):
        run_extraction(
            spark, docs, media, out, n_chunks=N_CHUNKS,
            include_covers=True, fail_on_chunk=-1,
        )
    assert completed_chunks(out, "done") == set(range(N_CHUNKS))
    assert not completed_chunks(out, "covers_done")

    shutil.rmtree(media_dir)  # source vanishes; covers must still finish
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, include_covers=True)
    assert completed_chunks(out, "covers_done")
    got = sorted(
        (r.doc_id, r.media_ref, r.thumb_w, r.thumb_h)
        for r in spark.read.parquet(f"{out}/covers").collect()
    )
    assert got == expected

    # rerun: covers are not recomputed (single covers_done lineage row)
    run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, include_covers=True)
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.filter("status = 'covers_done'").count() == 1
    assert lineage.count() == N_CHUNKS + 1
