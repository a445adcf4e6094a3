"""SparkSession construction with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster; every knob here
is chosen to survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalesce + skew-join splitting),
- Arrow enabled with a *bounded* batch size for image-bearing rows
  (the analog of the reference's ``seg_limit`` pixel budget,
  reference lib/SickZil-Machine/src/core.py:21 — OOM control is done
  by bounding the unit of work, not by recursive splitting),
- shuffle partitions sized to cores locally; on a real cluster this is
  set to 2-3x total cores via --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Image rows are wide (~100KB-1MB of PNG bytes each). 64 rows/batch keeps an
# Arrow batch under ~64MB worst case; plain text batches stay at default size
# because the kernels re-batch internally.
ARROW_MAX_RECORDS_PER_BATCH = 64


def driver_memory(physical_bytes: int) -> str:
    """The default ``spark.driver.memory``: a sixth of the host's RAM,
    at least 1 GB and at most 48 GB. Local mode is driver-only, so the
    heap holds cache, shuffle and Arrow buffers for all cores;
    undersizing it turns 32-way runs into GC thrash (measured: 530 ->
    1538 pages/s going 8g -> 48g on a large host). A fixed 48g would
    instead ask a small host for more than it has."""
    return f"{max(1, min(48, physical_bytes // (6 * 2**30)))}g"


def get_spark(
    app_name: str = "mangaextractor_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` means ``local[*]``. On a real cluster this function is
    bypassed — spark-submit provides the session and these confs come
    from ``--conf``.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n = cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        # Image-bearing scans need more input splits than the 128m
        # default yields (a 16m split is ~140 pages): the kernel stage
        # maps directly over scan partitions, so split count IS its
        # parallelism. Relational tables here are tiny either way; on a
        # 100 TB cluster this comes back up via --conf.
        .config("spark.sql.files.maxPartitionBytes", "16m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata table. On a production deployment this becomes
    ``spark.read.table(f"catalog.db.{name}")`` (Iceberg scan with
    partition pruning); parquet files model the same columnar scan with
    predicate pushdown + column pruning."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df):
    """Round-robin repartition a compute-bound input across the cluster.

    A small or single-row-group file scan pins every downstream map-side
    stage to one task regardless of cores; on the 100 TB table the scan
    itself splits, but sizing a CPU-heavy per-row stage (md5 sketches,
    dot products, image kernels) independently of scan splits still
    takes an explicit repartition — the rows are tiny relative to the
    compute, so this shuffle is noise while the parallelism it buys is
    the whole game (cf. the salted repartition in pipeline/extract).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    # Already well-split (a big table's scan): repartitioning would be a
    # full extra shuffle for nothing — the guard is what lets the same
    # query code run on the 100 TB table unchanged.
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
