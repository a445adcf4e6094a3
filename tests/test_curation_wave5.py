"""Semantics + plan-shape tests for the wave-5 curation/analytics
additions: per-source frequency cap and per-language top tokens.

Each value test recomputes the operator's DEFINITION independently in
pandas/numpy (not via the SQL oracle — test_queries_oracle already
covers engine parity), so a shared mistake in both engine programs
cannot hide.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
import pyarrow.parquet as pq


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _words(text: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if w]


def test_per_source_cap_matches_pandas(spark, sf_small):
    from mangaextractor_spark.queries.curation import SOURCE_CAP, per_source_cap

    got = per_source_cap(spark, sf_small).toPandas()

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    docs["hkey"] = docs["doc_id"].map(lambda d: _phash60(str(d)))
    docs = docs.sort_values(["source", "hkey", "doc_id"])
    docs["cap_rank"] = docs.groupby("source").cumcount() + 1
    want = (
        docs[docs["cap_rank"] <= SOURCE_CAP][["source", "doc_id", "cap_rank"]]
        .sort_values(["source", "cap_rank"])
        .reset_index(drop=True)
    )
    got = got.sort_values(["source", "cap_rank"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["cap_rank"].to_numpy() == want["cap_rank"].to_numpy()).all()
    # every source is actually capped and ranks are contiguous from 1
    per_src = got.groupby("source")["cap_rank"]
    assert (per_src.max() <= SOURCE_CAP).all()
    assert (per_src.min() == 1).all()


def test_per_source_cap_window_rides_the_pretopk(spark, sf_medium):
    """The rank window's input must be the bounded per-partition
    pre-top-k (MapInPandas), never the raw document scan: a mega-source
    at 100 TB would otherwise ride one task."""
    from mangaextractor_spark.queries.curation import per_source_cap

    plan = (
        per_source_cap(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    w_pos = plan.index("Window")
    assert "MapInPandas" in plan[w_pos:], "rank window input is not pre-pruned"


def test_lang_top_tokens_matches_pandas(spark, sf_small):
    from mangaextractor_spark.queries.textops import TOP_TOKENS_K, lang_top_tokens

    got = lang_top_tokens(spark, sf_small).toPandas()

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    rows = []
    for _, r in docs.iterrows():
        for t in _words(r["text"]):
            rows.append((r["lang"], t))
    c = (
        pd.DataFrame(rows, columns=["lang", "token"])
        .groupby(["lang", "token"])
        .size()
        .rename("n")
        .reset_index()
        .sort_values(["lang", "n", "token"], ascending=[True, False, True])
    )
    c["rank"] = c.groupby("lang").cumcount() + 1
    want = c[c["rank"] <= TOP_TOKENS_K].reset_index(drop=True)
    got = got.sort_values(["lang", "rank"]).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ("lang", "token", "n", "rank"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_lang_top_tokens_window_rides_the_pretopk(spark, sf_medium):
    from mangaextractor_spark.queries.textops import lang_top_tokens

    plan = (
        lang_top_tokens(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    w_pos = plan.index("Window")
    assert "MapInPandas" in plan[w_pos:], "rank window input is not pre-pruned"
