"""The four benchmark workloads. Each binds the cached corpus to a
session, runs one timed job per ``rep`` call, checks the program's
output against the corpus expectation, and (traced runs) times the
calls into each layer's public functions."""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from .corpus import HtmlSpec, PagesSpec
from .harness import Tracer, noop

# Untimed jobs run after the check run for at least this long: the JIT
# keeps speeding up the noop-sink job for its first few runs.
WARM_UP_S = 3.0
KEY = ["doc_id", "order"]
FIELDS = ["kind", "text", "media_ref"]


def bad_docs(got: pd.DataFrame, expected: pd.DataFrame) -> set[str]:
    """Documents whose (kind, text, media_ref, order) sequence differs."""
    got = got[KEY + FIELDS]
    dup = set(got.loc[got.duplicated(KEY, keep=False), "doc_id"])
    m = got.merge(expected[KEY + FIELDS], on=KEY, how="outer", suffixes=("_g", "_e"), indicator=True)
    bad = m["_merge"] != "both"
    for c in FIELDS:
        bad |= m[f"{c}_g"] != m[f"{c}_e"]
    return dup | set(m.loc[bad, "doc_id"])


def ink_boxes(regs, robust: bool) -> list[tuple[int, int, int, int]]:
    """The rects that extract_page_regions ranks: the tight ink box of
    each region with ink, in page coordinates. The ink crop starts at the
    region's corner on the robust path and ``shrink`` pixels inside it on
    the fast path."""
    from mangaextractor_spark.kernels.image_ops import extract_page_regions

    pad = 0 if robust else inspect.signature(extract_page_regions).parameters["shrink"].default
    out = []
    for r in regs:
        ys, xs = np.flatnonzero(r.ink.any(axis=1)), np.flatnonzero(r.ink.any(axis=0))
        if len(ys):
            x0, y0 = r.x1 + pad, r.y1 + pad
            out.append((x0 + int(xs[0]), y0 + int(ys[0]), x0 + int(xs[-1]) + 1, y0 + int(ys[-1]) + 1))
    return out


class Workload:
    name = ""

    def __init__(self, size: str):
        self.size = size
        self.errors: set[str] = set()
        self.checked_docs = 0

    def bind(self, spark, corpus: str, meta: dict, work: str) -> None:
        self.spark, self.corpus, self.meta, self.work = spark, corpus, meta, work
        self.expected = pq.read_table(os.path.join(corpus, "expected")).to_pandas()
        self.docs = spark.read.parquet(os.path.join(corpus, "documents"))

    def record(self, got: pd.DataFrame) -> None:
        self.errors |= bad_docs(got, self.expected)
        self.checked_docs += self.meta["docs"]

    def check(self) -> None:
        """Collect the full output once and compare it per document."""
        got = self.result().toPandas()
        self.spans_out = len(got)
        self.record(got)

    def rep(self, i: int) -> float:
        """One timed job: the full result into a noop sink."""
        t0 = time.perf_counter()
        noop(self.result())
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        t_end = time.perf_counter() + WARM_UP_S
        while True:
            self.rep(-1)
            if time.perf_counter() >= t_end:
                break

    def detail(self, walls: list[float]) -> dict:
        return {}


class Pages(Workload):
    engine, robust, furigana = "glyph", False, False

    def bind(self, spark, corpus, meta, work):
        super().bind(spark, corpus, meta, work)
        self.media = spark.read.parquet(os.path.join(corpus, "media"))

    def result(self):
        from mangaextractor_spark.pipeline.extract import extract_spans

        return extract_spans(
            self.docs, self.media, engine=self.engine, furigana=self.furigana, robust=self.robust
        )

    def detail(self, walls):
        return {"pages_per_s": self.meta["pages"] / statistics.median(walls)}

    # --- traced layers ---------------------------------------------------

    def layers(self, tracer: Tracer) -> dict:
        out = self.extract_layers(tracer)
        out.update(self.kernel_layers(tracer))
        busy = sum(
            tracer.total(n)
            for n in ("decode.png", "decode.jpeg", "image_ops.fast", "image_ops.robust", "furigana", "ocr")
        )
        cores = self.spark.sparkContext.defaultParallelism
        out["extract.kernel_share"] = busy / (out["extract.ocr_pages_s"] * cores)
        return out

    def extract_layers(self, tracer: Tracer) -> dict:
        """The stages of extract_spans, each into a noop sink."""
        from pyspark.sql import functions as F

        from mangaextractor_spark.pipeline.extract import number_spans, ocr_pages

        spans = self.docs.select("doc_id", F.explode("spans").alias("sp")).select(
            "doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.offset"
        )
        meta = F.broadcast(spans.filter(F.col("kind") == "image").select("doc_id", "offset", "media_ref"))
        pages = self.media.select("media_ref", "image_bytes").join(meta, "media_ref")
        with tracer.span("extract.join"):
            noop(pages)
        well_split = self.media.rdd.getNumPartitions() >= self.spark.sparkContext.defaultParallelism
        ocr = ocr_pages(
            pages,
            engine=self.engine,
            num_partitions=0 if well_split else None,
            furigana=self.furigana,
            robust=self.robust,
        )
        with tracer.span("extract.ocr_pages"):
            noop(ocr)
        ocr_dir = os.path.join(self.work, "trace_ocr")
        ocr.write.mode("overwrite").parquet(ocr_dir)
        with tracer.span("extract.number_spans"):
            noop(number_spans(spans, self.spark.read.parquet(ocr_dir)))
        return {
            "extract.join_s": tracer.total("extract.join"),
            "extract.ocr_pages_s": tracer.total("extract.ocr_pages"),
            "extract.number_spans_s": tracer.total("extract.number_spans"),
        }

    def kernel_layers(self, tracer: Tracer) -> dict:
        """Every page occurrence through the kernels in this process, one
        span per public-function call (the per-page work of ocr_pages).
        extract_page_regions calls reading_order itself, so ``ordering``
        times a second call on the same rects, and that time is also
        inside the ``image_ops`` span."""
        from mangaextractor_spark.kernels.furigana import remove_furigana
        from mangaextractor_spark.kernels.image_ops import extract_page_regions
        from mangaextractor_spark.kernels.ocr import get_engine
        from mangaextractor_spark.kernels.ordering import reading_order
        from mangaextractor_spark.sources.decode import PNG_SIG, decode_gray_image

        media = pq.read_table(os.path.join(self.corpus, "media"), columns=["media_ref", "image_bytes"])
        blobs = dict(zip(media.column(0).to_pylist(), media.column(1).to_pylist()))
        docs = pq.read_table(os.path.join(self.corpus, "documents")).column("spans").to_pylist()
        refs = [s["media_ref"] for spans in docs for s in spans if s["kind"] == "image"]
        engine = get_engine(self.engine)
        mode = "image_ops.robust" if self.robust else "image_ops.fast"
        failed = regions = calls = useful = 0
        for ref in refs:
            b = blobs[ref]
            with tracer.span("kernel.page", media_ref=ref):
                try:
                    with tracer.span("decode.png" if b[:8] == PNG_SIG else "decode.jpeg"):
                        img = decode_gray_image(b)
                except ValueError:
                    failed += 1
                    continue
                with tracer.span(mode):
                    regs = extract_page_regions(img, robust=self.robust)
                regions += len(regs)
                rects = ink_boxes(regs, self.robust)
                with tracer.span("ordering"):
                    ranks = reading_order(rects)
                if ranks != [r.reading_rank for r in regs if r.ink.any()]:
                    raise RuntimeError(f"ordering input differs from the kernel's on {ref}")
                inks = [r.ink for r in regs]
                if self.furigana:
                    with tracer.span("furigana"):
                        inks = [remove_furigana(m) for m in inks]
                with tracer.span("ocr"):
                    texts = engine.decode_batch(inks)
                calls += len(texts)
                useful += sum(1 for t in texts if t)
                retry = [i for i, t in enumerate(texts) if not t]
                if self.furigana and retry:  # the kernel's empty-retry on the raw crop
                    with tracer.span("ocr"):
                        again = engine.decode_batch([regs[i].ink for i in retry])
                    calls += len(again)
                    useful += sum(1 for t in again if t)
        ms = {n: tracer.total(n) * 1e3 for n in ("decode.png", "decode.jpeg", mode, "furigana", "ocr", "ordering")}
        return {
            "decode.png_ms": ms["decode.png"],
            "decode.jpeg_ms": ms["decode.jpeg"],
            "decode.failed": failed,
            f"{mode}_ms": ms[mode],
            "image_ops.regions": regions,
            "furigana.ms": ms["furigana"],
            "ocr.ms": ms["ocr"],
            "ocr.calls": calls,
            "ocr.useful_ratio": useful / calls if calls else 0.0,
            "ordering.ms": ms["ordering"],
        }


class PagesClean(Pages):
    name = "pages_clean"

    @property
    def spec(self):
        return PagesSpec(n_docs=100 if self.size == "full" else 6)


class PagesScan(Pages):
    name = "pages_scan"
    engine, robust, furigana = "glyph_vertical", True, True

    @property
    def spec(self):
        return PagesSpec(
            n_docs=40 if self.size == "full" else 10, noisy=True, p_jpeg=0.15, shared=0.15
        )


class PagesResume(Pages):
    """The pages_clean corpus through the chunked lineage runner: one
    call killed before chunk 4 commits (untimed, and a snapshot of its
    out_dir is kept), then every rep restores the snapshot and times the
    resumed call to its complete span table."""

    name = "pages_resume"
    n_chunks, kill_at = 8, 4

    @property
    def spec(self):
        return PagesClean(self.size).spec

    def _run(self, out_dir: str, **kw):
        from mangaextractor_spark.pipeline.checkpoint import run_extraction

        return run_extraction(self.spark, self.docs, self.media, out_dir, n_chunks=self.n_chunks, **kw)

    def check(self) -> None:
        from mangaextractor_spark.pipeline.checkpoint import ChunkFailure

        self.snapshot = os.path.join(self.work, "resume_killed")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        try:
            self._run(self.snapshot, fail_on_chunk=self.kill_at)
        except ChunkFailure:
            pass
        else:
            raise RuntimeError("the injected failure did not fire")
        self.uncommitted = self.n_chunks - len(self._done_rows(self.snapshot))

    def warm_up(self) -> None:
        pass  # the killed call has run the chunk stages; a resumed call costs ~9 s

    def _done_rows(self, out_dir: str) -> pd.DataFrame:
        lin = pq.read_table(os.path.join(out_dir, "_lineage")).to_pandas()
        return lin[lin["status"] == "done"]

    def rep(self, i: int) -> float:
        out_dir = os.path.join(self.work, "resume_rep")
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.copytree(self.snapshot, out_dir)
        self.run_id = f"resume{i}"
        t0 = time.perf_counter()
        result = self._run(out_dir, run_id=self.run_id)
        wall = time.perf_counter() - t0
        self.record(result.toPandas())
        done = self._done_rows(out_dir)
        if sorted(done["chunk"]) != list(range(self.n_chunks)):  # one `done` row per chunk
            self.errors.add(f"lineage of resume rep {i}")
        self.last_out = out_dir
        return wall

    def detail(self, walls):
        resume_s = statistics.median(walls)
        return {"pages_per_s": self.meta["pages"] / resume_s, "resume_s": resume_s}

    def layers(self, tracer: Tracer) -> dict:
        from mangaextractor_spark.pipeline.checkpoint import ChunkFailure

        out = super().layers(tracer)
        done = self._done_rows(self.last_out)
        staging = os.path.join(self.work, "trace_staging")
        shutil.rmtree(staging, ignore_errors=True)
        with tracer.span("checkpoint.staging"):
            try:
                self._run(staging, fail_on_chunk=0)
            except ChunkFailure:
                pass
        out.update(
            {
                "checkpoint.staging_s": tracer.total("checkpoint.staging"),
                "checkpoint.chunk_s": statistics.median(done["wall_ms"]) / 1e3,
                "checkpoint.bytes_written": sum(
                    os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.last_out) for f in fs
                ),
                "checkpoint.redo_ratio": (done["run_id"] == self.run_id).sum() / self.uncommitted,
            }
        )
        return out


class InterleavedHtml(Workload):
    name = "interleaved_html"

    @property
    def spec(self):
        return HtmlSpec(n_docs=40000 if self.size == "full" else 300)

    def result(self):
        from mangaextractor_spark.queries.main_content import main_content_spans_df

        return main_content_spans_df(self.docs)

    def layers(self, tracer: Tracer) -> dict:
        with tracer.span("main_content.scan"):
            noop(self.docs)
        with tracer.span("main_content.job"):
            noop(self.result())
        scan = tracer.total("main_content.scan")
        return {
            "main_content.scan_s": scan,
            "main_content.transform_s": tracer.total("main_content.job") - scan,
            "main_content.spans_out": self.spans_out,
        }


WORKLOADS = {w.name: w for w in (PagesClean, PagesScan, PagesResume, InterleavedHtml)}
