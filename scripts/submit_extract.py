#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster launch (north_rule: multi-executor, --py-files):

    cd <repo> && zip -r /tmp/mangaextractor_spark.zip mangaextractor_spark
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors 1000 --executor-cores 4 --executor-memory 16g \
      --py-files /tmp/mangaextractor_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
      scripts/submit_extract.py \
      --docs  catalog.db.documents \
      --media catalog.db.media \
      --out   /warehouse/spans_out \
      --chunks 4096 --furigana false --robust true

The same script runs locally against parquet paths:

    python scripts/submit_extract.py --docs /data/documents.parquet \
        --media /data/media.parquet --out /tmp/out --chunks 8

Chunked execution + lineage come from pipeline/checkpoint.py: re-running
the identical command after a failure resumes at chunk granularity.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _load(spark, ref: str):
    """Table name (contains no '/') -> catalog table; else parquet path."""
    if "/" not in ref:
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents table/path")
    ap.add_argument("--media", help="media table/path (required for --mode ocr)")
    ap.add_argument("--out", required=True, help="output directory/table root")
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--engine", default="glyph")
    ap.add_argument("--furigana", default="false")
    ap.add_argument(
        "--robust",
        default="true",
        help="full K4-K15 cleaning ladder (default) vs whiteness-CC fast path",
    )
    ap.add_argument(
        "--covers",
        default="false",
        help="also run the S6 cover pipeline (capa staging + covers_done lineage)",
    )
    ap.add_argument(
        "--mode",
        default="ocr",
        choices=["ocr", "main_content"],
        help="ocr = image-kernel extraction via the chunked runner; "
        "main_content = the zero-shuffle interleaved main-content "
        "pipeline (html strip / text passthrough / image placeholder) "
        "run through the chunked lineage runner "
        "(pipeline/checkpoint.py): per-chunk idempotent commits + "
        "mc_done lineage rows, so re-running the identical command "
        "after a kill resumes at chunk granularity (needs no media "
        "table; the transform itself is map-side)",
    )
    ap.add_argument(
        "--pre-chunked",
        default="false",
        help="main_content mode: the --docs table already carries an int "
        "`chunk` column backed by a pruned layout (Iceberg bucket "
        "partitioning) — skip the staging rewrite",
    )
    args = ap.parse_args()
    if args.mode == "ocr" and not args.media:
        ap.error("--media is required for --mode ocr")

    from pyspark.sql import SparkSession

    from mangaextractor_spark.pipeline.checkpoint import run_extraction, run_main_content

    # Under spark-submit the session (master, executors, confs) comes
    # from the launcher; getOrCreate just attaches to it.
    spark = SparkSession.builder.appName("mangaextractor-extract").getOrCreate()
    docs = _load(spark, args.docs)
    if args.mode == "main_content":
        out = run_main_content(
            spark,
            docs,
            args.out,
            n_chunks=args.chunks,
            input_is_chunked=args.pre_chunked.lower() in ("1", "true", "yes"),
        )
        print(f"extracted {out.count()} spans -> {args.out}/spans")
        return
    media = _load(spark, args.media)
    result = run_extraction(
        spark,
        docs,
        media,
        args.out,
        n_chunks=args.chunks,
        engine=args.engine,
        furigana=args.furigana.lower() in ("1", "true", "yes"),
        robust=args.robust.lower() in ("1", "true", "yes"),
        include_covers=args.covers.lower() in ("1", "true", "yes"),
    )
    n = result.count()
    print(f"extracted {n} spans -> {args.out}/spans")


if __name__ == "__main__":
    main()
