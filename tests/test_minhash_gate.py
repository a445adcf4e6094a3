"""Near-dup Bloom gate: the no-false-negative containment vs the exact
LSH candidate join, the register's shape and plan size, and that the
query (like the media_ops flagship) leaves nothing cached. Oracle
parity for the registered batch query rides test_queries_oracle.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mangaextractor_spark.queries import REGISTRY
from mangaextractor_spark.queries.minhash_gate import (
    band_key_frame,
    band_register_row,
    minhash_gate_frame,
)
from mangaextractor_spark.queries.minhash_join import _side_col
from mangaextractor_spark.queries.scale_ops import BLOOM_K


def _sides(spark, sf_small):
    d = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text", _side_col().alias("side"))
    )
    base = d.filter(F.col("side") == "base").select("doc_id", "text")
    queries = d.filter(F.col("side") == "query").select("doc_id", "text")
    return base, queries


def test_gate_no_false_negatives_vs_exact_join(spark, sf_small):
    """Every query doc the exact banded join pairs with a base doc MUST
    be flagged by the gate (a Bloom filter cannot miss a member band;
    the gate has no bucket cap, so it is a superset even of capped
    join candidates)."""
    base, queries = _sides(spark, sf_small)
    reg = band_register_row(base)
    flagged = {
        r["doc_id"]
        for r in minhash_gate_frame(queries, reg).collect()
        if r["near_dup_candidate"]
    }
    exact_q_ids = {
        r["q_id"] for r in REGISTRY["minhash_join"].spark(spark, sf_small).collect()
    }
    assert exact_q_ids, "fixture must produce at least one exact candidate pair"
    assert exact_q_ids <= flagged, exact_q_ids - flagged


def test_gate_short_docs_get_empty_bands(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    keys = {r["doc_id"]: r["band_keys"] for r in band_key_frame(df).collect()}
    assert keys[1] == [] and keys[2] == []
    assert len(keys[3]) == 2 and all(":" in k for k in keys[3])


def test_register_is_one_row(spark, sf_small):
    base, _ = _sides(spark, sf_small)
    reg = band_register_row(base).collect()
    assert len(reg) == 1 and len(reg[0]["bloom"]) >= 1


def test_register_plan_does_not_repeat_minhash(spark, sf_small):
    """Folding the band keys into the register adds only the BLOOM_K
    position hashes: the MinHash band-key tree is not inlined again."""
    base, _ = _sides(spark, sf_small)

    def n_md5(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("md5(")

    assert n_md5(band_register_row(base)) <= n_md5(band_key_frame(base)) + BLOOM_K


@pytest.mark.parametrize("name", ["near_dup_bloom_gate", "media_ops"])
def test_gate_leaves_nothing_cached(spark, sf_small, name):
    """The gate broadcasts its register once and media_ops re-reads its
    local media table; running either must leave no cached frame
    behind in the session."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    df = REGISTRY[name].spark(spark, sf_small)
    df.collect()
    assert "InMemoryRelation" not in df._jdf.queryExecution().withCachedData().toString()
    assert set(jsc.getPersistentRDDs().keys()) <= before
