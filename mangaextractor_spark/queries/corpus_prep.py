"""Training-corpus preparation operators: quality gating, interleaved
span statistics, retrieval chunking, and training-sequence packing.

These extend the LLM-data-pipeline surface (SURVEY.md §2 "beyond the
reference" block) over the same `documents` table and the north_rule
interleaved (doc_id, spans[]) shape. Every query has a DuckDB oracle;
determinism rules from queries/__init__.py apply (exact integer
arithmetic everywhere, each ratio is ONE double division of exact
ints, dense tie-broken orderings).

Scale notes (100 TB):

- ``gopher_quality_filter`` / ``chunk_spans`` / ``interleaved_stats``
  are pure map-side column/array expressions — zero exchanges, scan
  -> project -> (explode) -> sink; doc-count scaling is embarrassingly
  parallel and a monster doc costs only its own task.
- ``sequence_packing`` is the one inherently sequential op (token
  packing needs a running prefix sum), so it runs per HASH BUCKET:
  the window partitions by bucket, and the bucket count is the
  explicit parallelism knob (PACK_BUCKETS here; at 100 TB you size
  buckets to ~64k docs each so a window partition is one healthy
  task's worth of rows — see queries/_scale_notes.py for why windows
  must never carry unbounded key fan-out). Packing across buckets is
  independent by construction, which is exactly how production
  sequence packing shards (pack within worker, never globally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import WORDS_SQL, phash60, phash60_sql, words_col

# Gopher-style quality gates (Rae et al. 2021, public): word-count
# bounds, mean-word-length band, alpha-word fraction, symbol-to-word
# ratio, minimum distinct stopword hits.
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WLEN, MAX_MEAN_WLEN = 3.0, 10.0
MIN_ALPHA_FRAC = 0.8
MAX_SYMBOL_RATIO = 0.1
# Gopher's published threshold is 2 distinct stopword hits; the
# synthetic corpus lexicon is SQL jargon where no doc reaches 2, which
# would make the gate degenerate (constant keep=0) — 1 keeps the rule
# shape and splits the corpus ~50/50, so the oracle actually exercises
# both branches. On a real web corpus set this back to 2.
MIN_STOP_HITS = 1
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# chunk_spans: retrieval-index chunking (words per chunk / stride).
CHUNK_WORDS, CHUNK_STRIDE = 64, 48

# sequence_packing: target training-sequence length in tokens, and the
# bucket-parallelism knob (each bucket packs independently).
SEQ_LEN = 256
PACK_BUCKETS = 8


_GOPHER_SQL = f"""
WITH w AS (
  SELECT doc_id, text, {WORDS_SQL.format(t="text")} AS ws FROM documents
),
m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         list_sum(list_transform(ws, x -> length(x))) AS total_chars,
         len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         len(list_filter({STOPWORDS!r}, s -> list_contains(ws, s))) AS stop_hits,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols
  FROM w
)
SELECT doc_id, n_words,
       CASE WHEN n_words > 0 THEN CAST(total_chars AS DOUBLE) / n_words END
         AS mean_word_len,
       CASE WHEN n_words > 0 THEN CAST(n_alpha_words AS DOUBLE) / n_words END
         AS alpha_frac,
       CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words END
         AS symbol_ratio,
       stop_hits,
       CAST(CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                  AND CAST(total_chars AS DOUBLE) / n_words >= {MIN_MEAN_WLEN}
                  AND CAST(total_chars AS DOUBLE) / n_words <= {MAX_MEAN_WLEN}
                  AND CAST(n_alpha_words AS DOUBLE) / n_words >= {MIN_ALPHA_FRAC}
                  AND CAST(n_symbols AS DOUBLE) / n_words <= {MAX_SYMBOL_RATIO}
                  AND stop_hits >= {MIN_STOP_HITS}
             THEN 1 ELSE 0 END AS INT) AS keep
FROM m
ORDER BY doc_id
"""


@register(
    "gopher_quality_filter",
    _GOPHER_SQL,
    doc="Gopher-rule quality gating (Rae et al. 2021): word-count "
    "bounds, mean-word-length band, alpha-word fraction, symbol-to-"
    "word ratio, distinct-stopword floor — all as exact-integer column "
    "expressions with one double division per ratio. Map-side only "
    "(scan -> project); at 100 TB this is the cheapest possible shape: "
    "zero exchanges, and the keep flag rides with the row for the "
    "downstream filter. Reference analog: the reference gates OCR text "
    "by character whitelists (modules/ocr.py); these are the corpus-"
    "scale equivalents a training pipeline needs.",
    tags=("curation", "quality"),
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    m = _gopher_frame(d)
    nw = F.col("n_words")
    mean_wlen = F.when(nw > 0, F.col("total_chars") / nw)
    alpha_frac = F.when(nw > 0, F.col("n_alpha_words") / nw)
    symbol_ratio = F.when(nw > 0, F.col("n_symbols") / nw)
    return m.select(
        "doc_id",
        "n_words",
        mean_wlen.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        "stop_hits",
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("doc_id")


def _gopher_frame(d: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc gopher metrics + the boolean-as-int ``keep`` flag, with
    optional passthrough columns — shared by the per-doc filter query
    and the per-source rollup."""
    ws = words_col(F.col("text"))
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    m = d.select(
        "doc_id",
        *extra_cols,
        F.size(ws).alias("n_words"),
        F.aggregate(ws, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias(
            "total_chars"
        ),
        F.size(F.filter(ws, lambda x: x.rlike("[a-z]"))).alias("n_alpha_words"),
        F.size(F.filter(stops, lambda s: F.array_contains(ws, s))).alias("stop_hits"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "#", "")))
            + F.floor(
                (F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", "")))
                / F.lit(3)
            )
        ).alias("n_symbols"),
    )
    nw = F.col("n_words")
    mean_wlen = F.when(nw > 0, F.col("total_chars") / nw)
    alpha_frac = F.when(nw > 0, F.col("n_alpha_words") / nw)
    symbol_ratio = F.when(nw > 0, F.col("n_symbols") / nw)
    keep = (
        nw.between(MIN_WORDS, MAX_WORDS)
        & (mean_wlen >= MIN_MEAN_WLEN)
        & (mean_wlen <= MAX_MEAN_WLEN)
        & (alpha_frac >= MIN_ALPHA_FRAC)
        & (symbol_ratio <= MAX_SYMBOL_RATIO)
        & (F.col("stop_hits") >= MIN_STOP_HITS)
    )
    return m.withColumn("keep", F.when(keep, 1).otherwise(0))


def _interleaved_stats_sql() -> str:
    from .main_content import _SPANS_SQL

    return f"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SPANS_SQL} AS spans
  FROM documents
)
SELECT doc_id,
       CAST(len(spans) AS INT) AS n_spans,
       CAST(len(list_filter(spans, s -> s.kind = 'html')) AS INT) AS n_html,
       CAST(len(list_filter(spans, s -> s.kind = 'text')) AS INT) AS n_text,
       CAST(len(list_filter(spans, s -> s.kind = 'image')) AS INT) AS n_image,
       CAST(list_sum(list_transform(spans, s -> length(s.text))) AS BIGINT)
         AS total_text_chars,
       CAST(list_max(list_transform(spans, s -> s."offset")) AS INT) AS max_offset
FROM docs
ORDER BY doc_id
"""


@register(
    "interleaved_stats",
    _interleaved_stats_sql(),
    doc="Per-document span-kind statistics over the north_rule "
    "interleaved (doc_id, spans array<struct<kind,text,media_ref,"
    "offset>>) input shape: span counts by kind, total text bytes, max "
    "offset — all array aggregates computed map-side on the UNEXPLODED "
    "array cell (zero exchanges; the lineage/metrics precursor every "
    "stage of the north_rule pipeline logs per partition). Input table "
    "synthesized deterministically from `documents` exactly as "
    "main_content_spans does.",
    tags=("interleaved", "stats"),
)
def interleaved_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .main_content import interleaved_docs

    docs = interleaved_docs(spark, sf_dir)
    spans = F.col("spans")
    return docs.select(
        "doc_id",
        F.size(spans).cast("int").alias("n_spans"),
        F.size(F.filter(spans, lambda s: s["kind"] == "html")).cast("int").alias("n_html"),
        F.size(F.filter(spans, lambda s: s["kind"] == "text")).cast("int").alias("n_text"),
        F.size(F.filter(spans, lambda s: s["kind"] == "image")).cast("int").alias("n_image"),
        F.aggregate(spans, F.lit(0).cast("long"), lambda a, s: a + F.length(s["text"]))
        .cast("long")
        .alias("total_text_chars"),
        F.array_max(F.transform(spans, lambda s: s["offset"])).cast("int").alias("max_offset"),
    ).orderBy("doc_id")


_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id, {WORDS_SQL.format(t="text")} AS ws FROM documents
),
n AS (
  SELECT doc_id, ws, len(ws) AS n_words,
         CASE WHEN len(ws) <= {CHUNK_WORDS} THEN 1
              ELSE 1 + (len(ws) - {CHUNK_WORDS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
         END AS n_chunks
  FROM w
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS chunk_id,
       CAST(len(ws[(i - 1) * {CHUNK_STRIDE} + 1 :
                   (i - 1) * {CHUNK_STRIDE} + {CHUNK_WORDS}]) AS INT)
         AS n_chunk_words,
       array_to_string(ws[(i - 1) * {CHUNK_STRIDE} + 1 :
                          (i - 1) * {CHUNK_STRIDE} + {CHUNK_WORDS}], ' ')
         AS chunk_text
FROM n, UNNEST(generate_series(1, n_chunks)) AS g(i)
ORDER BY doc_id, chunk_id
"""


@register(
    "chunk_spans",
    _CHUNK_SQL,
    doc=f"Sliding-window retrieval chunking: {CHUNK_WORDS}-word chunks "
    f"at stride {CHUNK_STRIDE} (overlapping), at least one chunk per "
    "doc. Chunk starts come from a map-side sequence + slice over the "
    "token array, then ONE explode — no shuffle anywhere, so at 100 TB "
    "this is scan-bound; chunk counts are exact integers (no float "
    "ceil). This is the indexing front-end for retrieval over long "
    "documents.",
    tags=("curation", "retrieval"),
)
def chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = words_col(F.col("text"))
    w = d.select("doc_id", ws.alias("ws"), F.size(ws).alias("n_words"))
    n_chunks = F.when(F.col("n_words") <= CHUNK_WORDS, F.lit(1).cast("long")).otherwise(
        1
        + F.floor(
            (F.col("n_words") - CHUNK_WORDS + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)
        )
    )
    w = w.select("doc_id", "ws", n_chunks.alias("n_chunks"))
    chunk = F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias(
        "chunk_id"
    )
    e = w.select("doc_id", "ws", chunk)
    sliced = F.slice(
        F.col("ws"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_WORDS
    )
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sliced).cast("int").alias("n_chunk_words"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


_PACK_CORE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len({WORDS_SQL.format(t="text")}) AS n_tokens,
         {phash60_sql("CAST(doc_id AS VARCHAR)")} % {PACK_BUCKETS} AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, bucket, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM t
)
SELECT doc_id, CAST(bucket AS INT) AS bucket, CAST(n_tokens AS INT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // {SEQ_LEN} AS BIGINT) AS seq_id
FROM c
"""

_PACK_SQL = _PACK_CORE_SQL + "ORDER BY bucket, doc_id"


@register(
    "sequence_packing",
    _PACK_SQL,
    doc=f"Training-sequence packing: concatenate token streams per "
    f"hash bucket and split at {SEQ_LEN}-token boundaries — each doc "
    "gets (bucket, start_offset, seq_id) via a prefix sum over its "
    "bucket. Packing is the one inherently sequential curation op, so "
    "parallelism is BY BUCKET: the window partitions on bucket and "
    f"PACK_BUCKETS ({PACK_BUCKETS} here) is the explicit scale knob — "
    "at 100 TB you size buckets to ~64k docs so each window partition "
    "is one healthy task (the window-partition pin in "
    "queries/_scale_notes.py is the unbounded-fan-out case; here the "
    "partition size is capped by construction). Integer arithmetic "
    "end to end.",
    tags=("curation", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _packing_frame(spark, sf_dir).orderBy("bucket", "doc_id")


def _packing_frame(
    spark: SparkSession, sf_dir: str, n_buckets: int = PACK_BUCKETS
) -> DataFrame:
    """(doc_id, bucket, n_tokens, start_offset, seq_id) — the packing
    assignment shared by sequence_packing and packed_sequences.

    ``n_buckets`` is the production parallelism knob (round-4 verdict
    item 3): packing is inherently sequential PER BUCKET, so at 100 TB
    you size ``n_buckets`` so a bucket is ~64k docs (one healthy window
    task). Changing ``n_buckets`` re-shards docs across buckets but the
    per-bucket packing rule (prefix sum in doc_id order, split at
    SEQ_LEN) is invariant — tests pack the same corpus at 4 and 16
    buckets and check the boundary rule holds identically. The
    registered sf-fixture query keeps PACK_BUCKETS=8 to match its
    oracle SQL.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id",
        F.size(words_col(F.col("text"))).alias("n_tokens"),
        (phash60(F.col("doc_id").cast("string")) % n_buckets).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = t.withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.floor(F.col("start_offset") / F.lit(SEQ_LEN)).cast("long").alias("seq_id"),
    )


# --- per-source curation rollup ------------------------------------------

_SOURCE_ROLLUP_SQL = f"""
WITH w AS (
  SELECT doc_id, source, text, {WORDS_SQL.format(t="text")} AS ws FROM documents
),
m AS (
  SELECT doc_id, source,
         len(ws) AS n_words,
         list_sum(list_transform(ws, x -> length(x))) AS total_chars,
         len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         len(list_filter({STOPWORDS!r}, s -> list_contains(ws, s))) AS stop_hits,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols,
         md5(text) AS content_hash
  FROM w
),
k AS (
  SELECT m.*,
         CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
               AND CAST(total_chars AS DOUBLE) / n_words >= {MIN_MEAN_WLEN}
               AND CAST(total_chars AS DOUBLE) / n_words <= {MAX_MEAN_WLEN}
               AND CAST(n_alpha_words AS DOUBLE) / n_words >= {MIN_ALPHA_FRAC}
               AND CAST(n_symbols AS DOUBLE) / n_words <= {MAX_SYMBOL_RATIO}
               AND stop_hits >= {MIN_STOP_HITS}
          THEN 1 ELSE 0 END AS keep
  FROM m
),
h AS (
  SELECT content_hash, COUNT(*) AS n FROM k GROUP BY content_hash
)
SELECT k.source,
       COUNT(*) AS n_docs,
       CAST(SUM(k.keep) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN h.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(k.n_words) AS BIGINT) AS total_tokens,
       CAST(SUM(k.keep) AS DOUBLE) / COUNT(*) AS keep_rate,
       CAST(SUM(CASE WHEN h.n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate
FROM k JOIN h USING (content_hash)
GROUP BY k.source
ORDER BY k.source
"""


@register(
    "source_quality_rollup",
    _SOURCE_ROLLUP_SQL,
    doc="Per-source curation dashboard: doc counts, gopher-gate keep "
    "rate, exact-duplicate membership rate (docs whose content hash "
    "has >1 member), total tokens — the per-domain triage view every "
    "web-corpus pipeline runs before deciding crawl/filter policy. "
    "Two shuffles total at 100 TB: a content-hash groupBy (map-side "
    "combined, near-unique keys) equi-joined back (AQE-splittable), "
    "then the source groupBy (map-side combined; source cardinality "
    "is small). Rates are ONE double division of exact ints each, so "
    "the oracle hash is bit-stable.",
    tags=("curation", "quality", "dedup"),
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents")).withColumn(
        "content_hash", F.md5(F.col("text").cast("binary"))
    )
    k = _gopher_frame(d, extra_cols=("source", "content_hash"))
    h = k.groupBy("content_hash").agg(F.count(F.lit(1)).alias("n"))
    j = k.join(h, "content_hash")
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(dup).cast("long").alias("n_dup"),
            F.sum("n_words").cast("long").alias("total_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "n_dup",
            "total_tokens",
            (F.col("n_kept").cast("double") / F.col("n_docs")).alias("keep_rate"),
            (F.col("n_dup").cast("double") / F.col("n_docs")).alias("dup_rate"),
        )
        .orderBy("source")
    )


# --- dedup over EXTRACTED main content -----------------------------------


def _extracted_text_sql() -> str:
    """Subquery producing (doc_id, full_text): the interleaved fixture
    extracted + folded to one string per doc — the shared source for
    exact AND near-dup over extracted content."""
    from ..functions.html import html_main_sql
    from .main_content import _SPANS_SQL

    return f"""
  SELECT doc_id,
         array_to_string(list_filter(list_transform(spans, s ->
           CASE WHEN s.kind = 'html' THEN {html_main_sql("s.text")}
                WHEN s.kind = 'text' THEN s.text
                ELSE '' END), t -> t <> ''), ' ') AS full_text
  FROM (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_SPANS_SQL} AS spans
    FROM documents
  )"""


def _extracted_dedup_sql() -> str:
    return f"""
WITH ex AS (
{_extracted_text_sql()}
)
SELECT md5(full_text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM ex
GROUP BY md5(full_text)
ORDER BY content_hash
"""


def _extracted_text_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, full_text) — the Spark twin of _extracted_text_sql."""
    from ..functions.html import html_main_text
    from .main_content import interleaved_docs

    docs = interleaved_docs(spark, sf_dir)
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    texts = F.filter(
        F.transform(
            ordered,
            lambda s: F.when(s["kind"] == "html", html_main_text(s["text"]))
            .when(s["kind"] == "text", s["text"])
            .otherwise(F.lit("")),
        ),
        lambda t: t != "",
    )
    return docs.select("doc_id", F.array_join(texts, " ").alias("full_text"))


@register(
    "extracted_dedup_groups",
    _extracted_dedup_sql(),
    doc="Exact dedup computed over the EXTRACTED main content instead "
    "of the raw page — the composition a real curation pipeline runs "
    "(two mirrors of one article differ in nav/footer chrome but "
    "deduplicate after boilerplate strip). The per-doc extraction is "
    "the same sort/dispatch/drop chain as main_content_spans but "
    "FOLDED to one string map-side (array ops on the span cell, no "
    "explode), so the whole query is scan -> project -> one "
    "content-hash groupBy with map-side combine — the identical "
    "single-shuffle shape as dedup_exact at any scale.",
    tags=("dedup", "extraction", "pipeline"),
)
def extracted_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _extracted_text_df(spark, sf_dir)
    return (
        ex.groupBy(F.md5(F.col("full_text").cast("binary")).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .orderBy("content_hash")
    )


# --- packed training sequences -------------------------------------------

_PACKED_SEQ_SQL = f"""
WITH p AS ({_PACK_CORE_SQL})
SELECT bucket, seq_id,
       COUNT(*) AS n_docs,
       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
FROM p
GROUP BY bucket, seq_id
ORDER BY bucket, seq_id
"""


@register(
    "packed_sequences",
    _PACKED_SEQ_SQL,
    doc=f"Materialized training sequences from sequence_packing: all "
    f"docs whose packed stream STARTS in sequence (bucket, seq_id), "
    "with the member list and token total — what a dataloader "
    "manifest actually ships. On top of the per-bucket window this "
    "adds one groupBy on (bucket, seq_id): key cardinality is "
    f"total_tokens/{SEQ_LEN} (uniformly spread by construction), "
    "map-side combined — no skew exposure at 100 TB.",
    tags=("curation", "packing"),
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _packing_frame(spark, sf_dir)
    return (
        p.groupBy("bucket", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("doc_ids"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
        )
        .orderBy("bucket", "seq_id")
    )


# --- token-rarity quality (CCNet-family signal) --------------------------

# Vocabulary cap: top-K tokens by corpus frequency form the "known"
# vocabulary; everything else is OOV at rank K+1. The synthetic lexicon
# has ~30 distinct tokens, so K=24 leaves a real OOV tail and the
# oracle exercises both branches; production sets K to e.g. 65536.
VOCAB_K = 24

_RARITY_SQL = f"""
WITH w AS (
  SELECT doc_id, {WORDS_SQL.format(t="text")} AS ws FROM documents
),
toks AS (
  SELECT doc_id, UNNEST(ws) AS token FROM w
),
cnt AS (
  SELECT token, COUNT(*) AS n FROM toks GROUP BY token
),
vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
  FROM cnt ORDER BY n DESC, token LIMIT {VOCAB_K}
),
per AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END) AS n_oov,
         SUM(COALESCE(v.rank, {VOCAB_K + 1})) AS sum_rank
  FROM toks t LEFT JOIN vocab v USING (token)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN p.n_tokens > 0
            THEN CAST(p.n_oov AS DOUBLE) / p.n_tokens END AS oov_frac,
       CASE WHEN p.n_tokens > 0
            THEN CAST(p.sum_rank AS DOUBLE) / p.n_tokens END AS mean_rank
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


@register(
    "token_rarity_quality",
    _RARITY_SQL,
    doc=f"CCNet-family rarity quality signal without the float-"
    "precision trap of a real LM perplexity: per-doc OOV fraction and "
    f"mean corpus-frequency RANK of its tokens against the top-"
    f"{VOCAB_K} vocabulary (ranks are exact integers, ties broken by "
    "token; each ratio is one double division, so the oracle hash is "
    "bit-stable where log-probs would drift ulps between engines). "
    "Scale shape: token groupBy (map-side combined) -> distributed "
    "top-K (TakeOrdered, never a global sort) -> the ONLY window runs "
    "over the K-row vocabulary (bounded by construction, the "
    "_scale_notes.py window rule) -> K-row broadcast join-back -> "
    "per-doc groupBy (map-side combined). No corpus-sized shuffle "
    "beyond the two combinable aggregations.",
    tags=("curation", "quality", "text"),
)
def token_rarity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.orderBy(F.col("n").desc(), "token")
    vocab = (
        cnt.orderBy(F.col("n").desc(), "token")
        .limit(VOCAB_K)
        .withColumn("rank", F.row_number().over(wv))
        .select("token", "rank")
    )
    per = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("rank").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.sum(F.coalesce(F.col("rank"), F.lit(VOCAB_K + 1))).alias("sum_rank"),
        )
    )
    nt = F.col("n_tokens")
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(nt, F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.when(nt > 0, F.col("n_oov").cast("double") / nt).alias("oov_frac"),
            F.when(nt > 0, F.col("sum_rank").cast("double") / nt).alias("mean_rank"),
        )
        .orderBy("doc_id")
    )


# --- near-dup over EXTRACTED main content --------------------------------


def _extracted_minhash_sql() -> str:
    from .dedup import LSH_PAIRS_TAIL_SQL, minhash_cte_sql

    w_source = f"""
      SELECT doc_id, {WORDS_SQL.format(t="full_text")} AS ws FROM (
{_extracted_text_sql()}
      )"""
    return minhash_cte_sql(w_source) + LSH_PAIRS_TAIL_SQL


@register(
    "extracted_minhash_pairs",
    _extracted_minhash_sql(),
    doc="Banded MinHash-LSH candidate pairs over EXTRACTED main "
    "content — the near-dup completion of extracted_dedup_groups: two "
    "mirrors of one article whose chrome differs AND whose bodies "
    "drifted a little (ads injected, dates updated) surface here, not "
    "in the exact-hash pass. Same machinery as minhash_lsh_pairs "
    "(map-side shingle->minhash->band signatures, band-bucket "
    "sort-merge self-join with ReusedExchange), fed by the map-side "
    "extraction fold — the full extract->sketch->join chain remains "
    "ONE scan of the interleaved table at 100 TB.",
    tags=("dedup", "sketch", "extraction", "pipeline"),
)
def extracted_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hashed_shingles_from, lsh_band_pairs

    ex = _extracted_text_df(spark, sf_dir)
    return lsh_band_pairs(hashed_shingles_from(ex, text_col="full_text")).orderBy(
        "a_id", "b_id"
    )


# --- training shard plan ----------------------------------------------------

# WebDataset-style output sharding: every training run consumes the
# corpus as a fixed set of shard files, so the curation pipeline's last
# step is a deterministic doc -> shard assignment plus a manifest row
# per shard (counts + a content fingerprint) that the trainer validates
# against before reading. 16 here; at 100 TB you size shard count so a
# shard is ~the trainer's prefetch unit (a few GB), i.e. tens of
# thousands of shards.
N_SHARDS = 16
_SHARD_SALT = "shard:"  # decorrelates from split/sample buckets
_FP_MOD = 1_000_000_007  # fingerprint summand modulus: 60-bit hash
# % 1e9+7 summed over billions of rows stays far inside int64

_SHARD_SQL = f"""
WITH s AS (
  SELECT {phash60_sql("'" + _SHARD_SALT + "' || CAST(doc_id AS VARCHAR)")}
           % {N_SHARDS} AS shard,
         len({WORDS_SQL.format(t="text")}) AS n_tokens,
         n_chars,
         {phash60_sql("CAST(doc_id AS VARCHAR)")} % {_FP_MOD} AS fp
  FROM documents
),
per AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(fp) AS BIGINT) AS manifest_fp
  FROM s GROUP BY shard
),
tot AS (SELECT SUM(n_tokens) AS tot_tokens FROM per)
SELECT shard, n_docs, n_tokens, n_chars, manifest_fp,
       CAST(n_tokens * {N_SHARDS} AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
         AS load_ratio
FROM per, tot ORDER BY shard
"""


@register(
    "shard_plan",
    _SHARD_SQL,
    doc=f"Deterministic training-shard manifest (the WebDataset-style "
    f"emit step that ends every curation run): salted-hash doc -> "
    f"shard assignment over {N_SHARDS} shards, one manifest row per "
    "shard with doc/token/char counts, an order-insensitive content "
    "fingerprint (sum of per-doc 60-bit hashes mod 1e9+7 — the trainer "
    "re-derives it from the shard it read and refuses a mismatch), and "
    "load_ratio = this shard's token share relative to perfect balance "
    "(1.0 = perfectly even; the pre-write skew check). Scale shape: "
    "one scan, one map-side-combined groupBy on the shard key (fan-in "
    f"{N_SHARDS} rows), and the total joins back as a broadcast single "
    "row — no window, no second scan. Assignment is a pure Column "
    "recomputable per row in isolation, so a grown corpus never "
    "reshuffles prior docs across shards (append-stable like "
    "train_val_split). The salt decorrelates shard from the split and "
    "sample buckets.",
    tags=("text", "pipeline", "training"),
)
def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        shard_col().alias("shard"),
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"),
        "n_chars",
        F.pmod(phash60(F.col("doc_id").cast("string")), F.lit(_FP_MOD)).alias("fp"),
    )
    return shard_manifest(s)


def shard_col(doc_id: str = "doc_id", n_shards: int = N_SHARDS) -> F.Column:
    """Deterministic salted-hash shard assignment — a pure Column, so a
    grown corpus never reshuffles previously assigned docs. Shared by
    the registered shard_plan query and scripts/submit_curate.py."""
    return F.pmod(
        phash60(F.concat(F.lit(_SHARD_SALT), F.col(doc_id).cast("string"))),
        F.lit(n_shards),
    )


def shard_manifest(s: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """Aggregate (shard, n_tokens, n_chars, fp) rows into the per-shard
    manifest with the balance ratio. One map-side-combined groupBy on
    the shard key; the grand total joins back as one broadcast row.
    ``per`` (n_shards rows) is persisted because the broadcast total is
    derived FROM it — without the persist the build side re-executes
    the whole scan+tokenize subtree (the _scale_notes round-2 lesson;
    the plan test asserts one FileScan of the corpus)."""
    per = s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("fp").alias("manifest_fp"),
    ).persist()
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "n_chars",
            "manifest_fp",
            (
                (F.col("n_tokens") * n_shards).cast("double")
                / F.col("tot_tokens").cast("double")
            ).alias("load_ratio"),
        )
        .orderBy("shard")
    )
