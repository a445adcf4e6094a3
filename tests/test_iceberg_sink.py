"""Iceberg sink surface: SQL generation, availability gating, and the
parquet fallback's merge semantics (which must equal the MERGE the
cluster path would issue)."""

from __future__ import annotations

import pandas as pd
import pytest

from mangaextractor_spark.storage.iceberg import (
    catalog_names,
    iceberg_available,
    merge_delete_sql,
    merge_into_sql,
    upsert,
    write_bucket_partitioned,
)


def test_merge_sql_generation():
    sql = merge_into_sql(
        "wh.db.orders", "updates_v", ["o_orderkey"], ["o_orderkey", "o_totalprice", "o_comment"]
    )
    assert sql == (
        "MERGE INTO wh.db.orders t USING updates_v s ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice, "
        "t.o_comment = s.o_comment "
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_comment) "
        "VALUES (s.o_orderkey, s.o_totalprice, s.o_comment)"
    )
    dsql = merge_delete_sql("wh.db.pages", "doomed_v", ["id_capitulo", "nome"])
    assert dsql == (
        "MERGE INTO wh.db.pages t USING doomed_v s "
        "ON t.id_capitulo = s.id_capitulo AND t.nome = s.nome "
        "WHEN MATCHED THEN DELETE"
    )


def test_sandbox_has_no_catalog(spark):
    assert catalog_names(spark) == []
    assert not iceberg_available(spark)


def test_upsert_fallback_latest_wins(spark, tmp_path):
    tgt = str(tmp_path / "orders")
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    )
    out1 = upsert(spark, "ignored.tbl", base, ["k"], fallback_dir=tgt)
    assert sorted((r.k, r.v) for r in out1.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    updates = spark.createDataFrame(
        pd.DataFrame({"k": [2, 4], "v": ["B2", "d"]})
    )
    rows2 = sorted((r.k, r.v) for r in upsert(
        spark, "ignored.tbl", updates, ["k"], fallback_dir=tgt
    ).collect())
    assert rows2 == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # a replay of the same updates is idempotent (MERGE semantics)
    rows3 = sorted((r.k, r.v) for r in upsert(
        spark, "ignored.tbl", updates, ["k"], fallback_dir=tgt
    ).collect())
    assert rows3 == rows2


def test_upsert_requires_fallback_without_catalog(spark):
    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="fallback_dir"):
        upsert(spark, "wh.db.t", df, ["k"])


def test_bucket_partitioned_path_fallback(spark, tmp_path):
    out = str(tmp_path / "bucketed")
    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    write_bucket_partitioned(df, out, "doc_id", n_buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.select("_bucket").distinct().count() == 8


def test_upsert_rejects_duplicate_merge_keys(spark, tmp_path):
    """MERGE INTO errors on multiple source matches per target row; the
    fallback must enforce the same contract instead of silently
    inserting duplicates."""
    import pandas as pd

    dup = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "v": ["a", "b"]}))
    with pytest.raises(ValueError, match="duplicate merge keys"):
        upsert(spark, "ignored.tbl", dup, ["k"], fallback_dir=str(tmp_path / "t"))


def test_upsert_refuses_interrupted_swap(spark, tmp_path):
    """Leftover __old_*/__commit_* swap dirs mean a prior upsert died
    mid-swap; rebuilding would drop every previously-upserted row, so
    the call must refuse."""
    import pandas as pd

    tgt = tmp_path / "orders"
    base = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["a"]}))
    upsert(spark, "ignored.tbl", base, ["k"], fallback_dir=str(tgt))
    (tmp_path / "orders__old_dead").mkdir()
    with pytest.raises(ValueError, match="interrupted upsert"):
        upsert(spark, "ignored.tbl", base, ["k"], fallback_dir=str(tgt))


def test_merge_sql_parses_in_sparks_own_dialect(spark):
    """Round-3 verdict item 5: the generated MERGE text had never been
    parsed by any engine (the sandbox DuckDB, 1.0.0, predates MERGE
    INTO support, and no Iceberg jars ship here). Spark's own SQL
    parser IS the engine that will consume the string on a cluster —
    assert it parses into a structured MergeIntoTable plan with exactly
    the actions upsert relies on. Semantics parity of those actions vs
    the fallback path is test_upsert_fallback_latest_wins plus the
    merge_upsert_orders driver oracle."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    sql = merge_into_sql(
        "wh.db.orders", "updates_v", ["o_orderkey"], ["o_orderkey", "o_totalprice", "o_comment"]
    )
    plan = parser.parsePlan(sql)
    assert plan.getClass().getSimpleName() == "MergeIntoTable"
    s = plan.toString()
    # the ON condition, both non-key UPDATE assignments, the full-width
    # INSERT, and both relations must survive parsing structurally
    assert "'t.o_orderkey = 's.o_orderkey" in s
    assert "assignment('t.o_totalprice, 's.o_totalprice)" in s
    assert "assignment('t.o_comment, 's.o_comment)" in s
    assert "insertaction" in s and "assignment('o_orderkey, 's.o_orderkey)" in s
    # keys must never appear as UPDATE targets
    assert "assignment('t.o_orderkey" not in s
    assert "UnresolvedRelation [wh, db, orders]" in s
    assert "UnresolvedRelation [updates_v]" in s

    dplan = parser.parsePlan(merge_delete_sql("wh.db.pages", "doomed_v", ["id_capitulo", "nome"]))
    assert dplan.getClass().getSimpleName() == "MergeIntoTable"
    ds = dplan.toString()
    assert "deleteaction" in ds.lower()
    assert "'t.id_capitulo = 's.id_capitulo" in ds and "'t.nome = 's.nome" in ds


def test_upsert_refuses_unmarked_parquet_dir(spark, tmp_path):
    """A fallback_dir holding parquet WITHOUT a _SUCCESS marker may be
    a half-written commit or a non-Spark dataset (pyarrow writes no
    marker); treating it as empty would silently destroy it in the
    swap. Refuse instead."""
    tgt = tmp_path / "orders"
    tgt.mkdir()
    pd.DataFrame({"k": [1], "v": ["pre-existing"]}).to_parquet(tgt / "part-0.parquet")
    updates = spark.createDataFrame(pd.DataFrame({"k": [2], "v": ["new"]}))
    with pytest.raises(ValueError, match="no _SUCCESS"):
        upsert(spark, "ignored.tbl", updates, ["k"], fallback_dir=str(tgt))
    # the pre-existing data is untouched
    assert (tgt / "part-0.parquet").exists()
    assert pd.read_parquet(tgt / "part-0.parquet").v.tolist() == ["pre-existing"]


def test_upsert_catalog_path_drops_temp_view(spark, tmp_path, monkeypatch):
    """The catalog path must not leak one _updates_* temp view per
    call in a long-lived session — even when the MERGE fails."""
    import mangaextractor_spark.storage.iceberg as ice

    monkeypatch.setattr(ice, "iceberg_available", lambda s: True)
    updates = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["a"]}))
    before = {t.name for t in spark.catalog.listTables()}
    # no real catalog: the MERGE fails at analysis, but the view must
    # still be dropped by the finally
    with pytest.raises(Exception):
        ice.upsert(spark, "wh.db.missing", updates, ["k"])
    after = {t.name for t in spark.catalog.listTables()}
    assert not {t for t in after - before if t.startswith("_updates_")}


def test_merge_sql_parses_in_sparks_own_parser(spark):
    """Round-3 verdict item 5: the generated MERGE text had never been
    parsed by any engine (the sandbox has no Iceberg catalog, and this
    box's DuckDB predates MERGE INTO support). Spark's OWN SQL parser
    is the engine that will consume it on a real cluster, so drive the
    statement through spark.sql(): a parse-valid MERGE against a
    missing v2 target must fail at the ANALYSIS stage (table not
    found), never at the PARSE stage — while a corrupted statement must
    fail to parse. That pins the generated text to Spark's MERGE
    grammar without needing Iceberg jars."""
    import pytest
    from pyspark.errors import AnalysisException, ParseException

    sql = merge_into_sql(
        "nosuch_catalog.db.orders",
        "updates_view_missing",
        ["o_orderkey"],
        ["o_orderkey", "o_totalprice"],
    )
    with pytest.raises(AnalysisException) as ei:
        spark.sql(sql)
    assert not isinstance(ei.value, ParseException), ei.value
    assert "PARSE_SYNTAX_ERROR" not in str(ei.value)

    dsql = merge_delete_sql("nosuch_catalog.db.pages", "doomed_view", ["id"])
    with pytest.raises(AnalysisException) as ei:
        spark.sql(dsql)
    assert not isinstance(ei.value, ParseException), ei.value
    assert "PARSE_SYNTAX_ERROR" not in str(ei.value)

    # Control: the same harness DOES reject malformed MERGE text, so the
    # assertions above really exercise the parser.
    with pytest.raises(ParseException):
        spark.sql(sql.replace("WHEN MATCHED THEN", "WHEN MATCHED THEN FROB"))
