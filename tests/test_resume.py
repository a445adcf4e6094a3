"""Resume/lineage tests (north_rule: per-partition lineage rows; a
killed job resumes at partition granularity) — the engine analog of
the reference's `concluido/` move + is_processado flags
(reference core/processor.py:331-338, README.md:48).
"""

from __future__ import annotations

import contextlib

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


def test_real_chunk_failure_redoes_only_that_chunk(spark, tmp_path):
    """A chunk whose write fails for real raises once the chunks
    committing beside it have finished: they keep their lineage rows,
    the failed chunk has none, and a rerun commits only that chunk,
    giving a clean run's output."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mangaextractor_spark.pipeline.checkpoint import _run_chunks

    staged = spark.range(40).withColumn("chunk", (F.col("id") % N_CHUNKS).cast("int"))
    bad = 2

    def run(out: str, run_id: str, fail: bool) -> None:
        def chunk_rows(chunk: int, _tasks: int):
            rows = staged.filter(F.col("chunk") == chunk).drop("chunk")
            if fail and chunk == bad:
                boom = F.raise_error(F.lit(f"chunk {bad} failed"))
                rows = rows.withColumn("id", F.when(F.col("id") >= 0, boom).otherwise(F.col("id")))
            return rows

        _run_chunks(
            spark, out, "done", range(N_CHUNKS), chunk_rows,
            lambda c: f"{out}/rows/chunk={c}", ("n_rows",),
            [F.count(F.lit(1)).alias("n_rows")], run_id, None,
        )

    def lineage(out: str) -> list[dict]:
        return pq.read_table(f"{out}/_lineage").to_pylist()

    out = str(tmp_path / "out")
    with pytest.raises(Exception, match=f"chunk {bad} failed"):
        run(out, "first", fail=True)
    rows = lineage(out)
    assert sorted(r["chunk"] for r in rows) == [c for c in range(N_CHUNKS) if c != bad]
    assert all(r["status"] == "done" and r["n_rows"] == 10 for r in rows)

    run(out, "rerun", fail=False)
    assert [r["chunk"] for r in lineage(out) if r["run_id"] == "rerun"] == [bad]
    assert completed_chunks(out, "done") == set(range(N_CHUNKS))

    clean = str(tmp_path / "clean")
    run(clean, "clean", fail=False)
    got, exp = (sorted(spark.read.parquet(f"{d}/rows").collect()) for d in (out, clean))
    assert got == exp and len(got) == 40


def test_chunk_jobs_inherit_the_callers_job_group(spark, corpus_dfs, tmp_path):
    """The chunk commits run on driver threads; their jobs must still
    carry the caller's job group (tools that filter jobs by group, such
    as a traced benchmark, rely on it), without PySpark's warning that
    tags will not be inherited."""
    import warnings

    docs, media = corpus_dfs
    out = str(tmp_path / "out")
    with pytest.raises(ChunkFailure):
        run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, fail_on_chunk=1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("g", "resumed run")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not [w for w in caught if "will not be inherited" in str(w.message)]
    # Only new ungrouped ids count: the status store drops its oldest jobs
    # once it holds spark.ui.retainedJobs of them.
    assert not set(tracker.getJobIdsForGroup()) - ungrouped, "a job ran outside the caller's group"
    assert len(tracker.getJobIdsForGroup("g")) >= N_CHUNKS - 1  # a write per resumed chunk


@contextlib.contextmanager
def _sql_conf(spark, **settings):
    old = {key: spark.conf.get(key, None) for key in settings}
    for key, value in settings.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def test_kernel_stage_is_sized_by_the_chunks_in_flight(spark, corpus_dfs, tmp_path, monkeypatch):
    """An OCR chunk's kernel-task budget is its share of the cores (the
    first chunks get the remainder), or one task per PAGES_PER_TASK
    staged pages if that is more. A scan with enough splits maps the
    kernel over itself, coalesced to the budget; an under-split scan
    takes the salted repartition, into 3x the cores for a lone chunk."""
    import pyarrow.parquet as pq

    from mangaextractor_spark.pipeline import checkpoint

    docs, media = corpus_dfs
    cores = spark.sparkContext.defaultParallelism
    stages = []  # (kernel-stage partitions, ocr_pages' num_partitions: 0 = no shuffle)
    real = checkpoint.ocr_pages

    def spy(pages, **kw):
        ocr = real(pages, **kw)
        stages.append((ocr.rdd.getNumPartitions(), kw["num_partitions"]))
        return ocr

    def resume(name: str, kill: int) -> list:
        out = str(tmp_path / name)
        with pytest.raises(ChunkFailure):
            run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS, fail_on_chunk=kill)
        stages.clear()
        run_extraction(spark, docs, media, out, n_chunks=N_CHUNKS)
        return list(stages)

    monkeypatch.setattr(checkpoint, "ocr_pages", spy)
    assert N_CHUNKS == cores

    run_extraction(spark, docs, media, str(tmp_path / "all"), n_chunks=N_CHUNKS)
    assert stages == [(1, 0)] * N_CHUNKS
    # Three chunks on four cores: the first takes the spare core.
    assert [n for n, _ in resume("three", 1)] == [2, 1, 1]

    # A lone chunk packed into one split: the salted repartition, 3x the cores.
    one_split = {
        "spark.sql.files.maxPartitionBytes": "1g",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.minPartitionNum": "1",
    }
    with _sql_conf(spark, **one_split):
        assert resume("lone_packed", N_CHUNKS - 1) == [(3 * cores, None)]

    # Chunk scans of many splits map straight over them, never past the budget.
    with _sql_conf(spark, **{"spark.sql.files.maxPartitionBytes": "16k"}):
        assert resume("lone_split", N_CHUNKS - 1) == [(cores, 0)]
        monkeypatch.setattr(checkpoint, "PAGES_PER_TASK", 4)
        by_pages = resume("by_pages", 0)
    rows = pq.read_table(str(tmp_path / "by_pages" / "_lineage")).to_pylist()
    pages = [r["n_pages"] for r in sorted(rows, key=lambda r: r["chunk"])]
    assert min(pages) > 4  # every chunk's page floor is above its share of one core
    assert by_pages == [(-(-n // 4), 0) for n in pages]
