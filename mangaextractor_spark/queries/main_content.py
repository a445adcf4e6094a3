"""Interleaved main-content extraction — the north_rule flagship shape
with a full SQL oracle.

The north_rule asks for a main-content extraction pipeline (HTML
boilerplate strip, PDF/layout parse, DOM heuristics) over an Iceberg
table of interleaved text + media documents with columns
``(doc_id string, spans array<struct<kind, text, media_ref, offset>>)``
— exactly the schema of fixtures/spark_io.DOCUMENTS_SCHEMA that the
manga flagships consume. Those flagships are rows-only (image kernels
have no SQL twin); THIS query is the oracle-checked counterpart: the
same interleaved input shape, per-kind main-content dispatch, empty
spans dropped, surviving spans renumbered densely — and every step is
SQL-expressible, so the driver hash-checks it end to end.

Per-kind dispatch:

- ``html``  -> functions/html.py main-content chain (boilerplate
  regions out, tags out, entities unescaped, whitespace collapsed);
  emitted as kind='text';
- ``text``  -> passthrough (the reference emits dialog text verbatim);
- ``image`` -> media_ref preserved, text empty (the OCR twin of this
  span kind is the manga flagship; here the span survives as the
  media placeholder so the (kind, text, media_ref, order) sequence
  stays faithful to the interleaving).

Spans whose extracted text is empty (pure-boilerplate HTML, empty text
spans) are dropped BEFORE numbering — the same increment-only-on-text
rule as the OCR pipeline — so `order` is dense over survivors.

Scale story (the 10^12-doc plan): a document's spans arrive as ONE
array cell, so the whole pipeline is array higher-order functions
(sort by offset, transform, filter, renumber by position) applied
map-side, then one ``explode`` (Generate — a map-side operator) to the
row shape. ZERO exchanges: no explode-then-regroup, no per-doc window.
A monster document costs exactly its own row's compute on its own
task; doc-count scaling is embarrassingly parallel. The plan test
asserts the no-Exchange property. (The manga pipeline cannot do this —
its per-span work is an image kernel needing a page-level join +
salted repartition; boilerplate stripping is per-span string work, so
the array form is strictly better here.)

Reference parity: the reference interleaves extracted text back into
per-chapter ordered sequences (reference core/parallel_processor.py
ordering + modules/ocr.py:137-146 empty-drop rule); the html chain is
the north_rule parenthetical, not a reference feature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.html import escape_sql, escape_text, html_main_sql, html_main_text
from ..session import load_table, spread
from . import register

# --- deterministic interleaved fixture built from `documents` ------------
# Four spans per doc, offsets deliberately NON-contiguous (order must be
# recomputed densely, not copied from offset):
#   offset 0:  html span wrapping the doc text's head (escaped), plus
#              nav/footer junk that must vanish;
#   offset 10: plain text span (verbatim tail slice);
#   offset 20: image span (media_ref only);
#   offset 30: pure-boilerplate html span -> extracts to '' -> DROPPED.

_HEAD_LEN = 80
_TAIL_LEN = 60


def _spans_col() -> Column:
    head = F.substring("text", 1, _HEAD_LEN)
    tail = F.substring("text", _HEAD_LEN + 1, _TAIL_LEN)
    html_span = F.concat(
        F.lit('<html><body><nav id="menu">HOME | NAVJUNK</nav><article><p>'),
        escape_text(head),
        F.lit("</p></article><footer>FOOTERJUNK</footer></body></html>"),
    )

    def sp(kind: str, text: Column, media_ref: Column, offset: int) -> Column:
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            F.lit(offset).cast("int").alias("offset"),
        )

    return F.array(
        sp("html", html_span, F.lit(""), 0),
        sp("text", tail, F.lit(""), 10),
        sp(
            "image",
            F.lit(""),
            F.concat(F.lit("img/"), F.col("doc_id").cast("string"), F.lit("/0")),
            20,
        ),
        sp("html", F.lit("<nav>ONLY JUNK</nav>"), F.lit(""), 30),
    )


def interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_rule input table: (doc_id, spans array<struct<kind,
    text, media_ref, offset>>), synthesized deterministically from
    `documents` (both engines build the identical table)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(F.col("doc_id").cast("string").alias("doc_id"), _spans_col().alias("spans"))


def survivors_col(spans: Column) -> Column:
    """THE per-kind extraction + empty-drop rule (order-free), which
    main_content_spans_df sorts and renumbers around: image spans pass
    with their media_ref, html spans go through the main-content
    chain, text spans pass verbatim; spans whose extracted text is ''
    and are not images are dropped."""
    extracted = F.transform(
        spans,
        lambda s: F.struct(
            F.when(s["kind"] == "image", F.lit("image"))
            .otherwise(F.lit("text"))
            .alias("kind"),
            F.when(s["kind"] == "html", html_main_text(s["text"]))
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    return F.filter(extracted, lambda s: (s["text"] != "") | (s["kind"] == "image"))


def survivors_sql(spans: str) -> str:
    """DuckDB twin of survivors_col, over any spans-list expression."""
    return f"""list_filter(
           list_transform({spans}, s -> struct_pack(
             kind := CASE WHEN s.kind = 'image' THEN 'image' ELSE 'text' END,
             text := CASE WHEN s.kind = 'html' THEN {html_main_sql("s.text")}
                          ELSE s.text END,
             media_ref := s.media_ref)),
           s -> s.text <> '' OR s.kind = 'image'
         )"""


def main_content_spans_df(
    docs: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, spans[]) -> (doc_id, kind, text, media_ref, order).

    Entirely map-side: array_sort by offset -> per-kind transform ->
    drop empties -> renumber by surviving position -> explode. No
    exchange in the plan (asserted by tests/test_main_content.py).

    ``passthrough`` columns ride along unchanged (e.g. the chunk id in
    pipeline/main_content.py, which builds this plan ONCE and filters
    it per chunk — constructing the html-chain expression tree per
    chunk costs seconds of driver time at high chunk counts)."""
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    survivors = survivors_col(ordered)
    numbered = F.transform(
        survivors,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    return docs.select("doc_id", *passthrough, F.explode(numbered).alias("sp")).select(
        "doc_id", *passthrough, "sp.kind", "sp.text", "sp.media_ref", "sp.order"
    )


# DuckDB list_sort compares structs field-by-field in declaration
# order, so the sort key ("offset") leads the struct; Spark's
# array_sort uses an explicit offset comparator instead.
_SPANS_SQL = f"""
list_sort(ARRAY[
  struct_pack("offset" := 0, kind := 'html',
              text := '<html><body><nav id="menu">HOME | NAVJUNK</nav><article><p>'
                      || {escape_sql(f"substring(text, 1, {_HEAD_LEN})")}
                      || '</p></article><footer>FOOTERJUNK</footer></body></html>',
              media_ref := ''),
  struct_pack("offset" := 10, kind := 'text',
              text := substring(text, {_HEAD_LEN + 1}, {_TAIL_LEN}),
              media_ref := ''),
  struct_pack("offset" := 20, kind := 'image', text := '',
              media_ref := 'img/' || CAST(doc_id AS VARCHAR) || '/0'),
  struct_pack("offset" := 30, kind := 'html', text := '<nav>ONLY JUNK</nav>',
              media_ref := '')
])
"""

_MAIN_CONTENT_SQL = f"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SPANS_SQL} AS spans
  FROM documents
),
extracted AS (
  SELECT doc_id,
         {survivors_sql("spans")} AS survivors
  FROM docs
)
SELECT doc_id,
       survivors[i].kind AS kind,
       survivors[i].text AS text,
       survivors[i].media_ref AS media_ref,
       CAST(i - 1 AS INT) AS "order"
FROM extracted, UNNEST(generate_series(1, len(survivors))) AS g(i)
ORDER BY doc_id, "order"
"""


@register(
    "main_content_spans",
    _MAIN_CONTENT_SQL,
    doc="Interleaved main-content extraction over the north_rule input "
    "shape (doc_id, spans array<struct<kind,text,media_ref,offset>>): "
    "html spans boilerplate-stripped via the functions/html.py chain, "
    "text spans verbatim, image spans preserved as media placeholders, "
    "empty extractions dropped, survivors densely renumbered. All of "
    "it as array higher-order functions on the span cell — ZERO "
    "exchanges in the plan (no explode-regroup, no per-doc window), so "
    "a 10^12-doc run is one scan. Fully oracle-checked, unlike the "
    "image-kernel flagships (rows-only by nature) that share this "
    "input schema.",
    tags=("extraction", "text", "pipeline"),
)
def main_content_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return main_content_spans_df(interleaved_docs(spark, sf_dir))


# --- PDF spans in the interleaved shape (north_rule: 'PDF/layout parse') --

from ..fixtures.shared import pdf_fixture_path  # noqa: E402
from .html_queries import _PDF_SHOW_RE  # noqa: E402

_PDF_PARQUET = pdf_fixture_path()


def _pdf_text_unesc_sql() -> str:
    """DuckDB reconstruction of extract_pdf_text over the byte stream
    (same regexp chain as pdf_extract_text's oracle)."""
    unesc = "array_to_string(regexp_extract_all(s, '{re}', 1), ' ')".format(
        re=_PDF_SHOW_RE
    )
    unesc = f"REPLACE({unesc}, '\\x5C(', '(')"
    unesc = f"REPLACE({unesc}, '\\x5C)', ')')"
    return f"REPLACE({unesc}, '\\x5C\\x5C', '\\')"


_MAIN_PDF_SQL = f"""
WITH p AS (
  SELECT doc_id, CAST(pdf_bytes AS VARCHAR) AS s
  FROM read_parquet('{_PDF_PARQUET}')
),
ex AS (
  SELECT doc_id, {_pdf_text_unesc_sql()} AS pdf_text FROM p
),
spans AS (
  SELECT doc_id,
         list_filter(ARRAY[
           struct_pack(kind := 'text', text := 'Chapter ' || doc_id, media_ref := ''),
           struct_pack(kind := 'text', text := pdf_text,
                       media_ref := 'pdf/' || doc_id),
           struct_pack(kind := 'text', text := '', media_ref := ''),
           struct_pack(kind := 'image', text := '',
                       media_ref := 'img/' || doc_id || '/0')
         ], sp -> sp.text <> '' OR sp.kind = 'image') AS survivors
  FROM ex
)
SELECT doc_id,
       survivors[i].kind AS kind,
       survivors[i].text AS text,
       survivors[i].media_ref AS media_ref,
       CAST(i - 1 AS INT) AS "order"
FROM spans, UNNEST(generate_series(1, len(survivors))) AS g(i)
ORDER BY doc_id, "order"
"""


@register(
    "main_content_pdf_spans",
    _MAIN_PDF_SQL,
    doc="The interleaved flagship shape with a REAL PDF-parse span "
    "kind (north_rule: 'PDF/layout parse'): each fixture doc carries a "
    "title text span, a pdf span whose bytes are parsed by the from-"
    "scratch content-stream walker (fixtures/pdf.py — show-operator "
    "extraction with escape handling), an empty text span (dropped by "
    "the increment-only-on-text rule) and an image placeholder span; "
    "survivors are renumbered densely. The parse is ONE mapInPandas "
    "over the bytes column — at 100 TB the pdf bytes ride in the span "
    "row, so the plan is scan -> Arrow-batched parse -> map-side array "
    "ops with no join and no shuffle. Oracle: the same show strings "
    "recovered by regexp over the byte stream (DuckDB renders the "
    "escape byte as \\x5C), assembled through the identical "
    "filter-and-renumber SQL.",
    tags=("extraction", "text", "pipeline", "multimodal"),
)
def main_content_pdf_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def kern(batches):
        from ..fixtures.pdf import extract_pdf_text

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pdf_text": [extract_pdf_text(bytes(b)) for b in pdf["pdf_bytes"]],
                }
            )

    ex = spark.read.parquet(_PDF_PARQUET).mapInPandas(
        kern, "doc_id string, pdf_text string"
    )

    def sp(kind: str, text, media_ref) -> Column:
        return F.struct(
            F.lit(kind).alias("kind"),
            (text if isinstance(text, Column) else F.lit(text)).alias("text"),
            (
                media_ref if isinstance(media_ref, Column) else F.lit(media_ref)
            ).alias("media_ref"),
        )

    spans = F.array(
        sp("text", F.concat(F.lit("Chapter "), F.col("doc_id")), ""),
        sp("text", F.col("pdf_text"), F.concat(F.lit("pdf/"), F.col("doc_id"))),
        sp("text", "", ""),
        sp("image", "", F.concat(F.lit("img/"), F.col("doc_id"), F.lit("/0"))),
    )
    survivors = F.filter(spans, lambda s: (s["text"] != "") | (s["kind"] == "image"))
    numbered = F.transform(
        survivors,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    return (
        ex.select("doc_id", F.explode(numbered).alias("sp"))
        .select("doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.order")
        .orderBy("doc_id", "order")
    )


# --- image-text alignment: caption candidates ------------------------------

_CAPTION_SQL = f"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SPANS_SQL} AS spans
  FROM documents
),
imgs AS (
  SELECT doc_id,
         list_transform(
           list_filter(spans, s -> s.kind = 'image'),
           i -> struct_pack(
             media_ref := i.media_ref,
             img_offset := i."offset",
             cands := list_filter(spans,
               c -> c.kind = 'text' AND c.text <> '' AND c."offset" < i."offset")
           )
         ) AS xs
  FROM docs
)
SELECT doc_id,
       xs[i].media_ref AS media_ref,
       CAST(xs[i].img_offset AS INT) AS img_offset,
       CASE WHEN len(xs[i].cands) > 0
            THEN xs[i].cands[len(xs[i].cands)].text END AS caption,
       CASE WHEN len(xs[i].cands) > 0
            THEN CAST(xs[i].img_offset - xs[i].cands[len(xs[i].cands)]."offset" AS INT)
       END AS gap,
       CAST(len(xs[i].cands) AS INT) AS n_candidates
FROM imgs, UNNEST(generate_series(1, len(xs))) AS g(i)
ORDER BY doc_id, img_offset
"""


@register(
    "caption_candidates",
    _CAPTION_SQL,
    doc="Image-text alignment over the interleaved span table: for "
    "every image span, the nearest PRECEDING non-empty plain-text span "
    "in the same document is its caption candidate (the standard "
    "weak-alignment heuristic multimodal training sets are built with "
    "— LAION/MMC4-style pairing re-expressed over the north_rule "
    "schema), with the offset gap and the candidate count as alignment "
    "confidence signals; images with no preceding text emit NULLs so "
    "the unaligned population stays countable. Scale shape: identical "
    "to main_content_spans — the whole pairing is array higher-order "
    "functions on the document's own span cell (sort by offset, a "
    "nested filter-within-transform whose inner lambda captures the "
    "image span), then ONE explode. ZERO exchanges: no per-doc window, "
    "no spans self-join (the naive formulation — explode then "
    "image-to-text theta join per doc_id — shuffles the corpus twice "
    "and skews on span-heavy docs; the array form costs each document "
    "exactly its own row's compute).",
    tags=("multimodal", "alignment", "pipeline"),
)
def caption_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = interleaved_docs(spark, sf_dir)
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    xs = F.transform(
        F.filter(ordered, lambda s: s["kind"] == "image"),
        lambda i: F.struct(
            i["media_ref"].alias("media_ref"),
            i["offset"].cast("int").alias("img_offset"),
            F.filter(
                ordered,
                lambda c: (c["kind"] == "text")
                & (c["text"] != "")
                & (c["offset"] < i["offset"]),
            ).alias("cands"),
        ),
    )
    x = docs.select("doc_id", F.explode(xs).alias("x"))
    n = F.size(F.col("x.cands"))
    best = F.element_at(F.col("x.cands"), -1)
    return x.select(
        "doc_id",
        F.col("x.media_ref").alias("media_ref"),
        F.col("x.img_offset").alias("img_offset"),
        F.when(n > 0, best["text"]).alias("caption"),
        F.when(n > 0, (F.col("x.img_offset") - best["offset"]).cast("int")).alias(
            "gap"
        ),
        n.cast("int").alias("n_candidates"),
    ).orderBy("doc_id", "img_offset")
