"""Kill/resume + lineage tests for the chunked main-content runner
(run_main_content in pipeline/checkpoint.py) — the north_rule resumability contract
applied to the text flagship, mirroring tests/test_resume.py for the
OCR flagship.
"""

from __future__ import annotations

import json

import pytest

from mangaextractor_spark.pipeline.checkpoint import (
    ChunkFailure,
    completed_chunks,
    run_main_content,
)
from mangaextractor_spark.queries.main_content import (
    interleaved_docs,
    main_content_spans_df,
)

N_CHUNKS = 4


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return interleaved_docs(spark, sf_small).cache()


def _collect_sorted(df):
    return sorted(
        (r.doc_id, r.kind, r.text, r.media_ref, r.order)
        for r in df.select("doc_id", "kind", "text", "media_ref", "order").collect()
    )


@pytest.mark.parametrize("kill", [0, 2, N_CHUNKS - 1])
def test_kill_and_resume_equals_direct_run(spark, docs, tmp_path, kill):
    direct = _collect_sorted(main_content_spans_df(docs))

    out = str(tmp_path / "mc")
    with pytest.raises(ChunkFailure):
        run_main_content(spark, docs, out, n_chunks=N_CHUNKS, fail_on_chunk=kill)
    assert completed_chunks(out, "mc_done") == set(range(kill))

    resumed = run_main_content(spark, docs, out, n_chunks=N_CHUNKS)
    assert _collect_sorted(resumed) == direct

    rows = spark.read.parquet(f"{out}/_lineage").collect()
    assert {r.chunk for r in rows} == set(range(N_CHUNKS))
    assert len(rows) == N_CHUNKS, "resume must not redo committed chunks"
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == docs.count(), "every doc accounted for exactly once"
    for r in rows:
        assert r.status == "mc_done"
        assert r.n_spans == r.n_text + r.n_image
        # the fixture's 4th span (pure boilerplate) drops for every
        # doc; a doc whose tail slice is empty (text <= 80 chars)
        # drops its text span too
        assert r.n_docs <= r.n_dropped <= 2 * r.n_docs
        assert r.doc_id_min <= r.doc_id_max
        assert r.wall_ms >= 0


def test_rerun_of_complete_output_is_noop(spark, docs, tmp_path):
    out = str(tmp_path / "mc")
    run_main_content(spark, docs, out, n_chunks=N_CHUNKS)
    before = spark.read.parquet(f"{out}/_lineage").count()
    run_main_content(spark, docs, out, n_chunks=N_CHUNKS)
    assert spark.read.parquet(f"{out}/_lineage").count() == before


def test_resume_with_different_n_chunks_refused(spark, docs, tmp_path):
    out = str(tmp_path / "mc")
    with pytest.raises(ChunkFailure):
        run_main_content(spark, docs, out, n_chunks=N_CHUNKS, fail_on_chunk=1)
    with pytest.raises(ChunkFailure, match="n_chunks"):
        run_main_content(spark, docs, out, n_chunks=N_CHUNKS * 2)


def test_kill_mid_staging_rematerializes(spark, docs, tmp_path):
    """A run killed before the manifest commit must redo staging, not
    trust a half-written _staged directory."""
    out = tmp_path / "mc"
    with pytest.raises(ChunkFailure):
        run_main_content(spark, docs, str(out), n_chunks=N_CHUNKS, fail_on_chunk=0)
    # simulate a pre-manifest kill: manifest gone, staged dir present
    (out / "_mc_manifest.json").unlink()
    run_main_content(spark, docs, str(out), n_chunks=N_CHUNKS)
    assert json.loads((out / "_mc_manifest.json").read_text())["n_chunks"] == N_CHUNKS
    assert completed_chunks(str(out), "mc_done") == set(range(N_CHUNKS))


def test_chunk_filter_prunes_staged_partitions(spark, docs, tmp_path):
    """The build-once transform's per-chunk filter must push down to
    the staged scan as a partition filter (pruned directory read), not
    a post-explode row filter over every chunk's data."""
    from pyspark.sql import functions as F

    from mangaextractor_spark.queries.main_content import main_content_spans_df

    staged_dir = str(tmp_path / "staged")
    (
        docs.withColumn("chunk", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"))
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(staged_dir)
    )
    staged = spark.read.parquet(staged_dir)
    spans_all = main_content_spans_df(staged, passthrough=("chunk",))
    plan = (
        spans_all.filter(F.col("chunk") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "chunk" in plan.split("PartitionFilters")[1][:120], plan


def test_pre_chunked_input_skips_staging(spark, docs, tmp_path):
    """input_is_chunked=True: the chunk-partitioned source IS the
    staging (the Iceberg-layout shape) — no _staged rewrite, identical
    output, resume still chunk-granular."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from mangaextractor_spark.queries.main_content import main_content_spans_df

    src_dir = str(tmp_path / "src")
    (
        docs.withColumn("chunk", F.pmod(F.xxhash64("doc_id"), F.lit(N_CHUNKS)).cast("int"))
        .write.partitionBy("chunk")
        .mode("overwrite")
        .parquet(src_dir)
    )
    chunked = spark.read.parquet(src_dir)
    out = tmp_path / "mc"
    with pytest.raises(ChunkFailure):
        run_main_content(
            spark, chunked, str(out), n_chunks=N_CHUNKS, fail_on_chunk=2, input_is_chunked=True
        )
    assert not (out / "_staged").exists(), "staging rewrite must be skipped"
    res = run_main_content(spark, chunked, str(out), n_chunks=N_CHUNKS, input_is_chunked=True)
    assert _collect_sorted(res) == _collect_sorted(main_content_spans_df(docs))
    assert completed_chunks(str(out), "mc_done") == set(range(N_CHUNKS))


def test_pre_chunked_requires_chunk_column(spark, docs, tmp_path):
    with pytest.raises(ChunkFailure, match="no chunk column"):
        run_main_content(spark, docs, str(tmp_path / "x"), input_is_chunked=True)
