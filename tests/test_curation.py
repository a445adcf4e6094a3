"""Curation operators: semantics the oracle harness can't distinguish
(planted duplicates, contamination injection, rate sanity, plan shape).
Value parity at sf0.01 rides the test_queries_oracle parametrization.
"""

from __future__ import annotations

import pytest

from mangaextractor_spark.queries.curation import (
    DECONTAM_K,
    SAMPLE_DEFAULT_RATE,
    SAMPLE_RATES,
    decontamination_overlap,
    paragraph_dedup,
    pii_scrub,
    stratified_sample,
)


def test_decontamination_eval_copy_is_flagged(spark, sf_medium):
    """A train doc sharing a 13-gram with the eval slice must be
    contaminated; the synthetic corpus guarantees at least the
    repeated-boilerplate docs collide. Short docs carry 0 grams."""
    out = decontamination_overlap(spark, sf_medium).toPandas()
    # eval docs (doc_id % 20 == 0) are excluded from the output
    assert (out.doc_id % 20 != 0).all()
    # n_overlap never exceeds n_grams, and contaminated <=> n_overlap>0
    assert (out.n_overlap <= out.n_grams).all()
    assert (out.contaminated == (out.n_overlap > 0)).all()
    # docs shorter than K tokens have zero grams and are never flagged
    short = out[out.n_grams == 0]
    assert (short.n_overlap == 0).all()


def test_decontamination_planted_duplicate(spark):
    """Plant an exact eval copy in train: overlap = every gram."""
    words = " ".join(f"w{i}" for i in range(DECONTAM_K + 3))
    rows = [
        (0, words, "en", "s", len(words)),   # eval (0 % 20 == 0)
        (1, words, "en", "s", len(words)),   # train copy -> contaminated
        (2, "totally different tokens here only", "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = (
            decontamination_overlap(spark, d)
            .toPandas()
            .set_index("doc_id")
        )
    assert bool(out.loc[1, "contaminated"])
    assert out.loc[1, "n_overlap"] == out.loc[1, "n_grams"] == 4  # 16-13+1
    assert not bool(out.loc[2, "contaminated"])


def test_pii_scrub_counts_and_idempotence(spark, sf_medium):
    out = pii_scrub(spark, sf_medium).toPandas()
    # planting rule: every 3rd/4th/5th doc gains one of each kind
    assert (out.n_emails.to_numpy() == (out.doc_id % 3 == 0)).all()
    assert (out.n_phones.to_numpy() == (out.doc_id % 4 == 0)).all()
    assert (out.n_ips.to_numpy() == (out.doc_id % 5 == 0)).all()
    # nothing PII-shaped survives scrubbing
    joined = " ".join(out.text_scrubbed.tolist())
    assert "@example.com" not in joined
    assert "555-" not in joined.replace("<PHONE>", "")
    assert "10.0." not in joined
    # and every planted doc carries the redaction token
    assert out[out.doc_id % 3 == 0].text_scrubbed.str.contains("<EMAIL>").all()


def test_stratified_sample_rates(spark, sf_medium):
    kept = stratified_sample(spark, sf_medium).toPandas()
    from mangaextractor_spark.session import load_table

    base = load_table(spark, sf_medium, "documents").groupBy("lang").count().toPandas()
    base = base.set_index("lang")["count"]
    got = kept.groupby("lang").size()
    for lang, n in base.items():
        rate = SAMPLE_RATES.get(lang, SAMPLE_DEFAULT_RATE) / 100
        # hash buckets are uniform: observed rate within a loose band
        assert abs(got.get(lang, 0) / n - rate) < 0.15, (lang, got.get(lang, 0), n)
    # determinism: same rows on a second run
    again = stratified_sample(spark, sf_medium).toPandas()
    assert kept.doc_id.tolist() == again.doc_id.tolist()


def test_paragraph_dedup_first_wins(spark):
    """Cross-doc duplicate paragraph: only the (min doc, min pos)
    occurrence survives; within-doc repeats drop too; a doc whose
    every paragraph is a duplicate reassembles to ''."""
    p = " ".join(f"tok{i}" for i in range(10))  # exactly one paragraph
    q = " ".join(f"other{i}" for i in range(10))
    rows = [
        (1, p + " " + q, "en", "s", 1),  # paras [p, q] both first
        (2, p, "en", "s", 1),            # duplicate of doc1 pos0 -> empty
        (3, q + " " + q, "en", "s", 1),  # q dup of doc1 pos1; 2nd q dup too
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = paragraph_dedup(spark, d).toPandas().set_index("doc_id")
    assert out.loc[1, "n_kept"] == 2 and out.loc[1, "text_dedup"] == p + " " + q
    assert out.loc[2, "n_kept"] == 0 and out.loc[2, "text_dedup"] == ""
    assert out.loc[3, "n_kept"] == 0 and out.loc[3, "text_dedup"] == ""


def test_survivors_consistent_with_clusters(spark, sf_medium):
    """dedup_survivors == documents minus non-keeper cluster members."""
    from mangaextractor_spark.queries.dedup import dedup_clusters, dedup_survivors
    from mangaextractor_spark.session import load_table

    surv = set(dedup_survivors(spark, sf_medium).toPandas().doc_id)
    lab = dedup_clusters(spark, sf_medium).toPandas()
    drops = set(lab[~lab.is_keeper].doc_id)
    all_docs = set(load_table(spark, sf_medium, "documents").toPandas().doc_id)
    assert surv == all_docs - drops
    assert drops and drops.isdisjoint(surv)


def test_survivors_filter_is_broadcast(spark, sf_medium):
    """At fixture scale the corpus-side filter runs as a broadcast
    anti-join, so the scan does not shuffle on the drop list. AQE picks
    the broadcast at runtime from the drop set's measured size; no
    static hint forces it."""
    from mangaextractor_spark.queries.dedup import dedup_survivors

    df = dedup_survivors(spark, sf_medium)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftAnti" in final


@pytest.fixture()
def no_auto_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("name", ["dedup_survivors", "dedup_ladder_funnel"])
def test_drop_set_join_is_not_forced_broadcast(spark, sf_medium, no_auto_broadcast, name):
    """The near-dup drop set grows with the number of duplicates, so
    its join strategy is the planner's and AQE's call: with
    autoBroadcastJoinThreshold=-1 no plan may broadcast it, and the
    result must equal the default-threshold run."""
    from mangaextractor_spark.queries import REGISTRY

    df = REGISTRY[name].spark(spark, sf_medium)
    rows = sorted(df.collect())
    # after execution the adaptive plan prints both its final and its initial plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert sorted(REGISTRY[name].spark(spark, sf_medium).collect()) == rows
    spark.catalog.clearCache()


def test_decontam_eval_side_is_broadcast(spark, sf_medium):
    """The eval gram set joins broadcast — the corpus side must never
    shuffle on gram hash."""
    plan = (
        decontamination_overlap(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_pure_codegen(spark, sf_medium):
    """No Python, no aggregation: the scrub plan is scan -> project
    (WholeStageCodegen) with only the spread/order exchanges."""
    plan = pii_scrub(spark, sf_medium)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" not in plan


def test_stratified_sample_no_shuffle(spark, sf_medium):
    """Membership is map-side: no Exchange before the scan->filter (the
    plan may only exchange for the final presentation sort)."""
    df = stratified_sample(spark, sf_medium)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "EvalPython" not in plan
