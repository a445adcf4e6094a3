"""Chunked execution with per-chunk lineage and resume, shared by both
resumable pipelines: the OCR flagship (``run_extraction``) and the
interleaved main-content flagship (``run_main_content``, the
text-flagship transform of queries/main_content.py).

The reference's resume marker is moving a processed directory to
`concluido/` and skipping it on the next run (reference
core/processor.py:252-254,331-338, S7) plus page-identity upsert keys
(db_util.py:59). The engine equivalent: the expensive stage runs in
content-addressed CHUNKS (a hash bucket of media_ref or doc_id). ONE
pass stages the input partitioned by chunk, so every chunk iteration
is a pruned directory read and a resumed run never rescans the source.
Each chunk then commits (a) its output into a chunk-partitioned table
by idempotent overwrite and (b) one lineage row. A killed run resumes
by skipping the chunks that have a lineage row, so a chunk that died
mid-write is simply redone.

A call's remaining chunks commit concurrently, one driver thread per
chunk up to ``defaultParallelism``. Each OCR chunk's kernel stage gets
a task budget: its share of the cores (at least one task), or one task
per ``PAGES_PER_TASK`` staged pages if that is more. A Python task's
fixed cost (about 0.2-0.4 s on 4 local cores), not its kernel work,
sets a small chunk's wall; this way small remaining chunks pay it in
about one wave instead of one wave per chunk, and a large chunk keeps
up to one task per split of its scan. So a chunk's lineage ``wall_ms``
is its own latency, overlapping the other chunks'. A chunk that fails
raises once the others have finished; those keep their lineage rows,
so a resume redoes only the failed chunk. The injected
``fail_on_chunk`` commits exactly the chunks before it.

A lineage row's figures cost no extra Spark job: the staged-input
figures (pages, docs, doc range, input spans) come from one upfront
groupBy over the chunks still to run, and the output sums are observed
(``DataFrame.observe``) on the committing write. The driver writes the
row with pyarrow. Manifest and lineage are written with pathlib, so
``out_dir`` is a driver-local path.

On a cluster the tables are Iceberg (REPLACE PARTITION + snapshot
append), and a source bucket-partitioned by doc_id IS the staging
(``run_main_content(input_is_chunked=True)``); the sandbox uses parquet
directories with the same layout.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import number_spans, ocr_pages

_OCR_COUNTS = ("n_pages", "n_docs", "n_bubbles", "n_empty", "n_failed_pages")
_MC_COUNTS = ("n_docs", "n_spans", "n_text", "n_image", "n_dropped")
# Staged pages that earn an OCR chunk a kernel task beyond its share of
# the cores: about 0.25 s of clean-page kernel work (~4 ms a page on
# 4 vCPUs), the order of a Python task's fixed cost (0.2-0.4 s). A chunk
# with fewer pages per task would spend its tasks mostly on that cost.
PAGES_PER_TASK = 64


class ChunkFailure(RuntimeError):
    pass


def _lineage_schema(counts: tuple[str, ...]) -> pa.Schema:
    """The names and types Spark gave lineage rows before the driver
    wrote them, so old and new files read as one table."""
    return pa.schema(
        [("run_id", pa.string()), ("chunk", pa.int32()), ("status", pa.string())]
        + [(c, pa.int64()) for c in counts]
        + [("doc_id_min", pa.string()), ("doc_id_max", pa.string()), ("wall_ms", pa.int64())]
    )


def _replace(path: Path, write: Callable[[str], object]) -> None:
    """Write ``path`` under a dot-prefixed temporary name, then rename it
    into place: a kill mid-write leaves only a hidden file, which no
    later run (nor a parquet reader) picks up."""
    tmp = path.with_name(f".{path.name}.tmp")
    write(str(tmp))
    os.replace(tmp, path)


def _count(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def completed_chunks(out_dir: str, status: str) -> set[int]:
    """The chunk ids that have a ``status`` lineage row under ``out_dir``."""
    path = Path(out_dir) / "_lineage"
    if not any(path.glob("*.parquet")):
        return set()
    rows = pq.read_table(path, columns=["chunk", "status"]).to_pydict()
    return {c for c, s in zip(rows["chunk"], rows["status"]) if s == status}


def _stage(out_dir: str, manifest: str, settings: dict, write: Callable[[], None] | None) -> None:
    """Materialize the staged input once with ``write``; the manifest,
    written LAST, is the staging commit marker, so a run killed
    mid-staging re-materializes. The chunk domain is baked into the
    staged layout (resuming with a smaller n_chunks would silently never
    process the chunks above it), so a resume under other settings fails
    fast instead of trusting the out_dir-is-per-run-config convention."""
    path = Path(out_dir) / manifest
    if path.exists():
        stored = json.loads(path.read_text())
        for key, value in settings.items():
            if stored.get(key, False) != value:
                raise ChunkFailure(
                    f"staging at {out_dir} was materialized with {key}="
                    f"{stored.get(key, False)}, but this run requested {key}={value}; "
                    f"rerun with {key}={stored.get(key, False)} or a fresh out_dir."
                )
        return
    if write is not None:
        write()
    path.parent.mkdir(parents=True, exist_ok=True)
    _replace(path, lambda tmp: Path(tmp).write_text(json.dumps(settings)))


def _write_chunked(df: DataFrame, key: str, n_chunks: int, path: str) -> None:
    chunk = F.pmod(F.xxhash64(key), F.lit(n_chunks)).cast("int")
    df.withColumn("chunk", chunk).write.partitionBy("chunk").mode("overwrite").parquet(path)


def _run_chunks(
    spark: SparkSession,
    out_dir: str,
    status: str,
    chunks: Iterable[int],
    chunk_output: Callable[[int, int], DataFrame],
    chunk_dir: Callable[[int], str],
    counts: tuple[str, ...],
    observed: list[Column],
    run_id: str,
    fail_on_chunk: int | None,
    staged: DataFrame | None = None,
    staged_figures: tuple[Column, ...] = (),
) -> None:
    """Commit every chunk without a ``status`` lineage row: overwrite
    ``chunk_dir(c)`` with ``chunk_output(c, tasks)``, then write the
    lineage row. Every chunk's output is built on the calling thread
    before any chunk runs.

    The chunks commit concurrently, one driver thread each, up to
    ``defaultParallelism`` at once. ``tasks`` is a chunk's kernel-task
    budget: its share of the cores (at least one; the first chunks get
    the remainder), or one task per ``PAGES_PER_TASK`` staged pages
    (``n_pages`` in ``staged_figures``) if that is more.

    A lineage count is the chunk's ``staged_figures`` value plus its
    ``observed`` value of the same name (either may be absent);
    ``doc_id_min``/``doc_id_max`` come from whichever supplies them.
    ``fail_on_chunk`` injects a failure before that chunk commits: the
    chunks before it (in ``chunks`` order) commit, it and the chunks
    after it do not. A chunk that fails for real raises once every
    other chunk has finished, so a resume redoes only the failed
    chunks."""
    done = completed_chunks(out_dir, status)
    todo = [c for c in chunks if c not in done]
    run = todo[: todo.index(fail_on_chunk)] if fail_on_chunk in todo else todo
    if run:
        figures: dict[int, dict] = {}
        if staged_figures:
            figures = {
                r["chunk"]: r.asDict()
                for r in staged.filter(F.col("chunk").isin(run))
                .groupBy("chunk")
                .agg(*staged_figures)
                .collect()
            }
        cores = spark.sparkContext.defaultParallelism
        in_flight = min(len(run), cores)
        share, spare = divmod(cores, in_flight)

        def budget(i: int, chunk: int) -> int:
            pages = figures.get(chunk, {}).get("n_pages") or 0
            return max(share + (i < spare), -(-pages // PAGES_PER_TASK))

        outputs = {c: chunk_output(c, budget(i, c)) for i, c in enumerate(run)}
        schema = _lineage_schema(counts)
        lineage = Path(out_dir) / "_lineage"

        def commit(chunk: int) -> None:
            t0 = time.monotonic()
            obs = Observation()
            outputs[chunk].observe(obs, *observed).write.mode("overwrite").parquet(chunk_dir(chunk))
            staged_row, out_row = figures.get(chunk, {}), obs.get
            row = {"run_id": run_id, "chunk": chunk, "status": status}
            row.update({c: (staged_row.get(c) or 0) + (out_row.get(c) or 0) for c in counts})
            for c in ("doc_id_min", "doc_id_max"):
                row[c] = staged_row.get(c) or out_row.get(c) or ""
            row["wall_ms"] = int((time.monotonic() - t0) * 1000)
            table = pa.Table.from_pylist([row], schema=schema)
            lineage.mkdir(parents=True, exist_ok=True)
            _replace(
                lineage / f"{status}.{chunk}.{run_id}.parquet", lambda t: pq.write_table(table, t)
            )

        # Wrapped once per chunk, so that each commit gets its own copy of
        # the caller's local properties (job group, tags): the SQL jobs a
        # commit runs set their execution id in that copy.
        with ThreadPoolExecutor(in_flight) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(commit), c) for c in run]
        for future in futures:
            future.result()
    if len(run) < len(todo):
        raise ChunkFailure(f"injected failure before {status} chunk {fail_on_chunk} committed")


def _doc_range() -> tuple[Column, Column]:
    return F.min("doc_id").alias("doc_id_min"), F.max("doc_id").alias("doc_id_max")


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    engine: str = "glyph",
    fail_on_chunk: int | None = None,
    run_id: str | None = None,
    furigana: bool = False,
    robust: bool = False,
    include_covers: bool = False,
) -> DataFrame:
    """Execute the pipeline chunk-by-chunk with lineage; returns the
    final numbered span DataFrame (also written to ``{out_dir}/spans``).

    Chunks are hash buckets of media_ref; each commits its OCR rows to
    ``{out_dir}/ocr/chunk=N`` under a ``done`` lineage row counting the
    chunk's staged pages and docs (``n_pages``, ``n_docs``, doc range,
    a page with no regions included) and its observed bubbles, empty
    OCR calls and failed pages.

    ``fail_on_chunk`` injects a failure before that chunk commits —
    used by the resume tests (kill mid-run, rerun, verify completed
    chunks are skipped and output equals a clean run). ``-1`` injects
    it after all OCR chunks but before the covers commit.

    ``include_covers=True`` additionally runs the S6 cover pipeline:
    capa-marked media rows are staged alongside the page table (so a
    resumed run never rescans the media source for covers either),
    thumbnailed/upserted into ``{out_dir}/covers``, and committed under
    a ``covers_done`` lineage row (chunk = -1) that resume honors like
    any chunk.

    Cover-failure contract (NO RETRY): a cover whose bytes fail to
    decode is committed as a NULL-byte marker row and counted in the
    ``covers_done`` lineage row's ``n_failed_pages`` — a later resume
    does NOT retry it, exactly as a failed page inside a committed OCR
    chunk is not retried. This is deliberate: staged cover bytes are
    immutable (re-decoding the same bytes fails the same way), so an
    automatic retry loop could never terminate on a genuinely corrupt
    cover. Transient-failure recovery is explicit instead: check
    ``n_failed_pages`` in the lineage table and rerun with a fresh
    ``out_dir`` (or delete the ``covers_done`` row + ``covers/`` dir)
    to force reprocessing.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    spans = docs.select("doc_id", F.explode("spans").alias("sp")).select(
        "doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.offset"
    )
    pages_dir, capa_dir = f"{out_dir}/_pages", f"{out_dir}/_capa"

    def stage() -> None:
        if include_covers:
            from ..functions.covers import cover_candidates

            cover_candidates(media).select("media_ref", "image_bytes").write.mode(
                "overwrite"
            ).parquet(capa_dir)
        image_pages = (
            spans.filter(F.col("kind") == "image")
            .select("doc_id", "offset", "media_ref")
            .join(media.select("media_ref", "image_bytes"), "media_ref")
        )
        _write_chunked(image_pages, "media_ref", n_chunks, pages_dir)

    _stage(out_dir, "_staging_manifest.json", {"n_chunks": n_chunks, "covers": include_covers}, stage)
    pages = spark.read.parquet(pages_dir)

    def chunk_ocr(chunk: int, tasks: int) -> DataFrame:
        # A scan with at least ``tasks`` splits, or with as many as the
        # cores (extract_spans' test), maps the kernel straight over
        # itself, coalesced to at most ``tasks`` (no shuffle). An
        # under-split scan takes the salted repartition: into 3x the
        # cores, as in extract_spans, when its budget spans them all (a
        # chunk left alone); into its budget when it shares the cores,
        # whose other chunks' tasks fill in around its skew.
        cores = spark.sparkContext.defaultParallelism
        chunk_pages = pages.filter(F.col("chunk") == chunk).drop("chunk")
        direct = chunk_pages.rdd.getNumPartitions() >= min(tasks, cores)
        return ocr_pages(
            chunk_pages.coalesce(tasks) if direct else chunk_pages,
            engine=engine,
            furigana=furigana,
            robust=robust,
            num_partitions=0 if direct else None if tasks >= cores else tasks,
        )

    is_bubble = F.col("bubble_rank") >= 0
    _run_chunks(
        spark,
        out_dir,
        "done",
        range(n_chunks),
        chunk_ocr,
        lambda c: f"{out_dir}/ocr/chunk={c}",
        _OCR_COUNTS,
        [
            _count(is_bubble).alias("n_bubbles"),
            _count(is_bubble & (F.col("text") == "")).alias("n_empty"),
            _count(~is_bubble).alias("n_failed_pages"),
        ],
        run_id,
        fail_on_chunk,
        staged=pages,
        staged_figures=(
            F.countDistinct("media_ref").alias("n_pages"),
            F.countDistinct("doc_id").alias("n_docs"),
            *_doc_range(),
        ),
    )
    if include_covers:
        from ..functions.covers import covers

        capa = spark.read.parquet(capa_dir)
        n_covers = F.count(F.lit(1))  # covers() keeps one row per doc_id
        _run_chunks(
            spark,
            out_dir,
            "covers_done",
            [-1],
            lambda *_: covers(capa),
            lambda _: f"{out_dir}/covers",
            _OCR_COUNTS,
            [
                n_covers.alias("n_pages"),
                n_covers.alias("n_docs"),
                _count(F.col("cover_bytes").isNull()).alias("n_failed_pages"),
                *_doc_range(),
            ],
            run_id,
            fail_on_chunk,
        )
    final = number_spans(spans, spark.read.parquet(f"{out_dir}/ocr").drop("chunk"))
    final.write.mode("overwrite").parquet(f"{out_dir}/spans")
    return spark.read.parquet(f"{out_dir}/spans")


def run_main_content(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    fail_on_chunk: int | None = None,
    run_id: str | None = None,
    input_is_chunked: bool = False,
) -> DataFrame:
    """Execute main-content extraction chunk-by-chunk with lineage;
    returns the final span DataFrame (also at ``{out_dir}/spans``).

    ``docs`` is the north_rule interleaved table
    (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
    The transform is map-side (array ops + one explode, zero
    exchanges), so the unit of commit is a hash chunk of doc_id: each
    chunk writes its spans to ``{out_dir}/spans/chunk=N`` under an
    ``mc_done`` lineage row (staged docs and doc range, observed span
    counts by kind, dropped = staged spans - committed spans).
    ``fail_on_chunk`` injects a failure before that chunk commits (for
    the kill/resume tests).

    ``input_is_chunked=True`` declares that ``docs`` already carries an
    int ``chunk`` column in ``[0, n_chunks)`` backed by a pruned layout
    (an Iceberg table bucket-partitioned on doc_id, or a parquet
    directory partitioned by chunk) — the staging rewrite is SKIPPED
    entirely, which is the production shape: the table layout IS the
    staging, and per-chunk filters prune to their own partitions.
    """
    from ..queries.main_content import main_content_spans_df

    if input_is_chunked and "chunk" not in docs.columns:
        raise ChunkFailure("input_is_chunked=True but `docs` has no chunk column")
    run_id = run_id or uuid.uuid4().hex[:12]
    staged_dir = f"{out_dir}/_staged"
    _stage(
        out_dir,
        "_mc_manifest.json",
        {"n_chunks": n_chunks, "input_is_chunked": input_is_chunked},
        None if input_is_chunked else lambda: _write_chunked(docs, "doc_id", n_chunks, staged_dir),
    )
    staged = docs if input_is_chunked else spark.read.parquet(staged_dir)
    # The html-chain expression tree costs seconds of py4j construction
    # and analysis, so the transform plan is built once, on the first
    # chunk that runs, with the chunk id riding through as a passthrough
    # column; each chunk only adds a partition filter (pushed down to
    # the staged scan — pruning is plan-asserted in the tests). The
    # transform is map-side, so its tasks are the scan's splits whatever
    # the chunk's task budget.
    spans_all = functools.cache(lambda: main_content_spans_df(staged, passthrough=("chunk",)))
    n_spans = F.count(F.lit(1))
    _run_chunks(
        spark,
        out_dir,
        "mc_done",
        range(n_chunks),
        lambda c, _: spans_all().filter(F.col("chunk") == c).drop("chunk"),
        lambda c: f"{out_dir}/spans/chunk={c}",
        _MC_COUNTS,
        [
            n_spans.alias("n_spans"),
            _count(F.col("kind") == "text").alias("n_text"),
            _count(F.col("kind") == "image").alias("n_image"),
            (-n_spans).alias("n_dropped"),  # adds to the staged span count
        ],
        run_id,
        fail_on_chunk,
        staged=staged,
        staged_figures=(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_dropped"),
            *_doc_range(),
        ),
    )
    return spark.read.parquet(f"{out_dir}/spans")
