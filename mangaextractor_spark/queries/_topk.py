"""Exact distributed top-k-per-group — the window-pin fix for ranking.

``row_number().over(Window.partitionBy(group))`` carries EVERY
candidate row of a group into one task (windows get no partial
aggregation and AQE cannot split them) — fine when the group's
candidate set is bounded by construction, a single-task pin when it is
corpus-sized (a mega-source's documents in per_source_cap, a major
language's vocabulary in lang_top_tokens).
This is the third incarnation of the hazard documented in
_scale_notes.py (df-by-window was the first two).

``topk_per_group`` restores boundedness without changing results: an
Arrow-batched per-PARTITION top-k (each task keeps at most k rows per
group seen in its partition, bounded memory via periodic compaction)
followed by the exact rank window over the survivors —
<= k * n_partitions rows per group, each group's final ranking exact
because the per-partition pruning uses the SAME total order as the
window (ties must be fully broken by the sort columns, which every
caller does by suffixing the id column).

Precondition: no NaNs in the sort columns — pandas sorts NaN last
while Spark's descending order sorts it first, so a NaN could be
pruned that the window would have ranked. All callers rank
integer hashes or counts, which are never NaN.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

# Compact the per-partition accumulator whenever it exceeds this many
# rows: bounds task memory at ~COMPACT_ROWS + one Arrow batch
# regardless of partition size.
COMPACT_ROWS = 200_000


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    sort_cols: Sequence[str],
    ascending: Sequence[bool],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per group per PARTITION, ordered by
    ``sort_cols``/``ascending`` (a total order). Schema is preserved;
    follow with the exact rank window over the (now bounded) result."""
    import pandas as pd

    gc, sc, asc = list(group_cols), list(sort_cols), list(ascending)
    schema = df.schema

    def kern(batches):
        acc: list[pd.DataFrame] = []
        n = 0

        def compact() -> pd.DataFrame:
            merged = pd.concat(acc, ignore_index=True)
            return (
                merged.sort_values(sc, ascending=asc, kind="mergesort")
                .groupby(gc, sort=False)
                .head(k)
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            acc.append(pdf)
            n += len(pdf)
            if n > COMPACT_ROWS:
                acc = [compact()]
                n = len(acc[0])
        if acc:
            yield compact()

    return df.mapInPandas(kern, schema)
