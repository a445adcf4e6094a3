"""Every metric the benchmark reports, with its unit, the direction that
is better and, for per-layer metrics, which end-to-end metric on which
workload it should move. BENCHMARK.json lists the same names; the
self-test keeps the two in step."""

from __future__ import annotations

# name -> (unit, better, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", "cold start: JVM launch, session start and a worker-spawning warm-up job"),
    "docs_per_s": ("docs/s", "higher", "documents / median job wall time (pages_resume: the resumed call)"),
    "peak_rss_mb": ("MB", "lower", "median over timed jobs (each after a full GC) of peak JVM heap after GC + non-heap + worker PSS"),
}

# Printed by the run's detail line and aggregated by suite.py where they apply.
DETAIL = {
    "pages_per_s": ("pages/s", "higher", "pages_clean, pages_scan, pages_resume"),
    "resume_s": ("s", "lower", "pages_resume"),
    "doc_error_rate": ("ratio", "lower", "all"),
    "scaling_efficiency": ("ratio", "higher", "pages_clean, suite.py only"),
}

# name -> (unit, better, moves)
PER_LAYER = {
    "decode.png_ms": ("ms", "lower", "docs_per_s on pages_clean/pages_resume"),
    "decode.jpeg_ms": ("ms", "lower", "docs_per_s on pages_scan; not pages_clean"),
    "decode.failed": ("count", "lower", "doc_error_rate on image workloads"),
    "image_ops.fast_ms": ("ms", "lower", "docs_per_s on pages_clean and pages_resume"),
    "image_ops.robust_ms": ("ms", "lower", "docs_per_s on pages_scan only"),
    "image_ops.regions": ("count", "lower", "ocr.calls on image workloads"),
    "furigana.ms": ("ms", "lower", "docs_per_s on pages_scan only"),
    "ocr.ms": ("ms", "lower", "docs_per_s on pages_clean and pages_scan"),
    "ocr.calls": ("count", "lower", "docs_per_s on pages_clean and pages_scan (base of ocr.useful_ratio)"),
    "ocr.useful_ratio": ("ratio", "higher", "docs_per_s on pages_clean and pages_scan"),
    "ordering.ms": ("ms", "lower", "docs_per_s on pages_clean"),
    "extract.join_s": ("s", "lower", "docs_per_s and scaling_efficiency on pages_clean"),
    "extract.ocr_pages_s": ("s", "lower", "docs_per_s and scaling_efficiency on pages_clean"),
    "extract.number_spans_s": ("s", "lower", "docs_per_s and scaling_efficiency on pages_clean"),
    "extract.kernel_share": ("ratio", "higher", "docs_per_s and scaling_efficiency on pages_clean"),
    "checkpoint.staging_s": ("s", "lower", "resume_s/docs_per_s on pages_resume; not pages_clean"),
    "checkpoint.chunk_s": ("s", "lower", "resume_s/docs_per_s on pages_resume; not pages_clean"),
    "checkpoint.bytes_written": ("bytes", "lower", "resume_s/docs_per_s on pages_resume; not pages_clean"),
    "checkpoint.redo_ratio": ("ratio", "lower", "resume_s/docs_per_s on pages_resume; not pages_clean"),
    "main_content.scan_s": ("s", "lower", "docs_per_s on interleaved_html only"),
    "main_content.transform_s": ("s", "lower", "docs_per_s on interleaved_html only"),
    "main_content.spans_out": ("count", "higher", "docs_per_s on interleaved_html only"),
    "spark.tasks": ("count", "lower", "docs_per_s on every workload"),
    "spark.failed_tasks": ("count", "lower", "doc_error_rate / docs_per_s on every workload"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "docs_per_s on pages_clean and pages_resume"),
    "spark.input_bytes": ("bytes", "lower", "docs_per_s on every workload"),
    "spark.executor_cpu_s": ("s", "lower", "docs_per_s on every workload"),
    "spark.gc_s": ("s", "lower", "trades against peak_rss_mb on pages_scan"),
    "spark.task_skew": ("ratio", "lower", "scaling_efficiency on pages_clean; docs_per_s on pages_scan"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced median job wall (not a program metric)"),
}


def report(values: dict[str, float], table: dict) -> dict:
    return {name: {"value": float(values[name]), "unit": table[name][0]} for name in table}
