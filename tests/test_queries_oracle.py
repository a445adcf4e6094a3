"""Parity harness mimicking the driver: run every registered query on
Spark AND its DuckDB oracle, then compare row count, column names, and
values after sorting columns by name and rows by all columns.

This is intentionally stricter than needed (exact value equality,
including float bits) — if it passes here, the driver's value-hash
comparison passes too.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import pandas as pd
import pytest

from mangaextractor_spark.queries import REGISTRY

TABLES = [
    "customer",
    "part",
    "orders",
    "lineitem",
    "documents",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).tz_localize(None) if pd.Timestamp(v).tzinfo else pd.Timestamp(v)
    return v


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), x) for x in r))


ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


def _driver_hash(pdf: pd.DataFrame) -> str:
    import hashlib

    pdf = pdf[sorted(pdf.columns)]
    return hashlib.md5(
        "\n".join(
            sorted(repr(tuple(r)) for r in pdf.itertuples(index=False, name=None))
        ).encode()
    ).hexdigest()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_medium, name):
    qd = REGISTRY[name]
    sdf = qd.spark(spark, sf_medium).toPandas()
    con = _duck(sf_medium)
    odf = con.execute(qd.oracle).df()
    con.close()

    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    s_rows, o_rows = _canon(sdf), _canon(odf)
    n_bad = 0
    first_bad = None
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            n_bad += 1
            if first_bad is None:
                first_bad = (i, a, b)
    assert n_bad == 0, f"{name}: {n_bad}/{len(s_rows)} rows differ; first: {first_bad}"
    # the driver's ACTUAL comparison: md5 over sorted raw-row reprs —
    # repr('100') != repr(100.0), so a dtype drift (e.g. a DuckDB SUM
    # returning HUGEINT -> float64 against a Spark BIGINT) fails HERE
    # even though the coerced value compare above tolerates it
    assert _driver_hash(sdf) == _driver_hash(odf), (
        f"{name}: value-coerced rows match but the driver's repr-hash "
        f"differs — dtype drift between engines (check column dtypes: "
        f"{sdf.dtypes.to_dict()} vs {odf.dtypes.to_dict()})"
    )


def test_rows_only_queries_run(spark, sf_medium):
    for name, qd in REGISTRY.items():
        if qd.oracle is None:
            n = qd.spark(spark, sf_medium).count()
            assert n >= 0, name


# The extraction job's registry entries (queries/extraction_queries.py and
# queries/main_content.py): trimming the registry must never drop these.
FLAGSHIPS = (
    "extract_manga_spans",
    "extract_manga_spans_vertical",
    "media_ops",
    "main_content_spans",
    "main_content_pdf_spans",
    "caption_candidates",
)


def test_entry_contract_keeps_flagships():
    import __spark_entry__ as se

    qs, osql = se.queries(), se.oracle_sql()
    assert set(osql) <= set(qs)
    assert set(FLAGSHIPS) <= set(qs), sorted(set(FLAGSHIPS) - set(qs))


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["lang", "n_docs", "n_unique", "total_tokens", "max_chars"]
