"""Driver-facing query registry.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle that DuckDB runs on the same parquet tables. Determinism rules
applied throughout (so the driver's order-insensitive value-hash
matches bit-for-bit):

- money/quantity sums go through DECIMAL (exact, order-independent),
  then cast to DOUBLE at the end (single correctly-rounded conversion);
- every ratio/avg is one double division of exact operands;
- every LIMIT/top-k has a total-order tie-break key;
- regexes use the Java-regex ∩ RE2 common subset;
- portable 60-bit hashes: ``conv(substr(md5(s),1,15),16,10)`` (Spark)
  == ``try_cast('0x'||substr(md5(s),1,15) as bigint)`` (DuckDB).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver does a rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects.
    from . import (  # noqa: F401
        corpus_prep,
        curation,
        dedup,
        extraction_queries,
        html_queries,
        image_dedup,
        main_content,
        maintenance,
        minhash_gate,
        minhash_join,
        multimodal_queries,
        normalize,
        parsing_queries,
        relational,
        scale_ops,
        scoring,
        textops,
        webdataset,
    )


_load_all()
