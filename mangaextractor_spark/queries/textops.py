"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (JVM-side, codegen'd): a 100 TB corpus
pass over these is a single scan with no shuffle except the final
rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import WORDS_SQL, phash60, phash60_sql, shingles3, shingles_sql, words_col

LEXICONS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "y", "las", "del"],
}


def _score(words: F.Column, lex: list[str]) -> F.Column:
    arr = F.array(*[F.lit(w) for w in lex])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def _score_sql(ws: str, lex: list[str]) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in lex) + "]"
    return f"len(list_filter({ws}, w -> list_contains({lit}, w)))"


_WS = WORDS_SQL.format(t="text")

_LANGID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_score_sql('ws', LEXICONS['en'])} AS s_en,
         {_score_sql('ws', LEXICONS['de'])} AS s_de,
         {_score_sql('ws', LEXICONS['fr'])} AS s_fr,
         {_score_sql('ws', LEXICONS['es'])} AS s_es
  FROM (SELECT doc_id, lang, {_WS} AS ws FROM documents)
)
SELECT lang,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS predicted,
       COUNT(*) AS n_docs
FROM scored GROUP BY 1, 2 ORDER BY lang, predicted
"""


@register(
    "langid_confusion",
    _LANGID_SQL,
    doc="Stopword-lexicon language ID with deterministic argmax tie-break, "
    "rolled up into a (actual, predicted) confusion table.",
    tags=("text",),
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        *[_score(ws, LEXICONS[k]).alias(f"s_{k}") for k in ("en", "de", "fr", "es")],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return (
        scored.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


_PUNCT_RE = "[.,!?;:]"

_QUALITY_SQL = f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       len({_WS}) AS n_tokens,
       ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '{_PUNCT_RE}', '', 'g'))) * 1.0
             / LENGTH(text), 6) AS punct_ratio,
       ROUND({_score_sql(_WS, LEXICONS['en'])} * 1.0
             / GREATEST(len({_WS}), 1), 6) AS stopword_ratio
FROM documents ORDER BY doc_id
"""


@register(
    "quality_metrics",
    _QUALITY_SQL,
    doc="Per-document quality signals: char/token counts, punctuation "
    "ratio, stopword ratio. Each ratio is one double division of exact "
    "integer operands (bit-stable across engines).",
    tags=("text",),
)
def quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = words_col(F.col("text"))
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), _PUNCT_RE, ""))
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        F.size(ws).alias("n_tokens"),
        F.round(n_punct * F.lit(1.0) / n_chars, 6).alias("punct_ratio"),
        F.round(
            _score(ws, LEXICONS["en"]) * F.lit(1.0) / F.greatest(F.size(ws), F.lit(1)), 6
        ).alias("stopword_ratio"),
    ).orderBy("doc_id")


_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_TOKENS_SQL = f"""
SELECT doc_id,
       len({_WS}) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKEN_RE}')) AS bpe_ish_tokens
FROM documents ORDER BY doc_id
"""


@register(
    "token_counts",
    _TOKENS_SQL,
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(letter runs | digit runs | single punctuation).",
    tags=("text",),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words_col(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
    ).orderBy("doc_id")


_FP_SQL = (
    shingles_sql()
    + f"""
    SELECT doc_id,
           MIN({phash60_sql("s")}) AS fp_min,
           MAX({phash60_sql("s")}) AS fp_max,
           COUNT(*) AS n_shingles
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """
)


@register(
    "doc_fingerprint",
    _FP_SQL,
    doc="Document fingerprint: min/max 60-bit shingle hash + distinct "
    "shingle count (winnowing-lite; the rolling-hash analog of the "
    "reference's page md5 identity, core/processor.py:198-206). Computed "
    "map-side — array_distinct + transform + array_min/max per doc, no "
    "explode and no shuffle; one scan at any corpus size.",
    tags=("text", "sketch"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.filter(F.size(words_col(F.col("text"))) >= 3).select(
        "doc_id",
        F.transform(
            F.array_distinct(shingles3(words_col(F.col("text")))), phash60
        ).alias("hs"),
    )
    return base.select(
        "doc_id",
        F.array_min("hs").alias("fp_min"),
        F.array_max("hs").alias("fp_max"),
        F.size("hs").cast("long").alias("n_shingles"),
    )


@register(
    "doc_vocabulary",
    f"""
    WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
    toks AS (
      SELECT doc_id, UNNEST(ws) AS token FROM w
    )
    SELECT doc_id, token, COUNT(*) AS n
    FROM toks
    GROUP BY doc_id, token
    HAVING COUNT(*) >= 2
    ORDER BY doc_id, token
    """,
    doc="Per-document vocabulary with counts (tokens seen >= 2 times) — "
    "the engine analog of the reference's per-volume/chapter/page "
    "vocabulario columns (db_util.py:39-77, README.md:71-90), computed "
    "from content instead of stored opaquely. One shuffle on "
    "(doc_id, token) with map-side combine.",
    tags=("text",),
)
def doc_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
    return (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .orderBy("doc_id", "token")
    )


@register(
    "corpus_funnel",
    f"""
    WITH base AS (
      SELECT doc_id, lang, len({_WS}) AS n_tokens, md5(text) AS h
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, lang, n_tokens, h,
             n_tokens >= 10 AS passes_quality,
             doc_id = MIN(doc_id) OVER (PARTITION BY h) AS is_keeper
      FROM base
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN passes_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN passes_quality AND is_keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_unique
    FROM flagged GROUP BY lang ORDER BY lang
    """,
    doc="The training-data FUNNEL in one pass: per language, total docs "
    "-> docs passing a token-count quality gate -> quality docs that "
    "are also exact-dedup keepers (min doc_id per content hash). "
    "Spark plan: one scan, one hash-partition window for keeper "
    "election, map-side-combined final rollup — the shape of a corpus "
    "curation pass at 100 TB (the stage every extra filter composes "
    "into for free).",
    tags=("text", "dedup", "pipeline"),
)
def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    h = F.md5(F.col("text").cast("binary"))
    base = d.select(
        "doc_id", "lang",
        F.size(words_col(F.col("text"))).alias("n_tokens"),
        h.alias("h"),
    )
    # keeper election via groupBy + equi-join back, NOT a window over
    # the content hash: a boilerplate page duplicated 100M times would
    # pin its whole hash group on one window task, while the equi-join
    # is map-side combined on the agg side and AQE-skew-splittable on
    # the probe side (_scale_notes.py — the window-pin rule).
    keepers = base.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    flagged = base.join(keepers, "h").select(
        "lang",
        (F.col("n_tokens") >= 10).alias("passes_quality"),
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("passes_quality"), 1).otherwise(0)).alias("n_quality"),
            F.sum(
                F.when(F.col("passes_quality") & F.col("is_keeper"), 1).otherwise(0)
            ).alias("n_quality_unique"),
        )
        .orderBy("lang")
    )


_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id, lang, {phash60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


@register(
    "train_val_split",
    _SPLIT_SQL,
    doc="Deterministic 90/5/5 train/val/test assignment by hash bucket "
    "of the doc id (the split every training-data pipeline needs): "
    "stable across runs and engines (portable 60-bit md5 hash), "
    "map-side only — a 100 TB corpus is split in a single scan with "
    "zero shuffles, and membership is recomputable for any row "
    "without a lookup table.",
    tags=("text", "pipeline"),
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(phash60(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


# Exact quantiles of a bounded-domain measure (token counts) without a
# global sort: (p_name, numerator, denominator) — type-1 (discrete)
# quantile, rank k = ceil(p * n_docs), value = smallest n with
# cum_count >= k. Pure integer arithmetic in both engines.
QUANTILE_POINTS = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20))

_QUANT_CASES = ",\n       ".join(
    f"MIN(CASE WHEN cum >= (n_docs * {num} + {den} - 1) // {den} THEN n END) AS {name}"
    for name, num, den in QUANTILE_POINTS
)

_QUANTILES_SQL = f"""
WITH tok AS (SELECT lang, CAST(len({_WS}) AS BIGINT) AS n FROM documents),
hist AS (SELECT lang, n, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
cum AS (
  SELECT lang, n,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
  FROM hist
)
SELECT lang, n_docs, {_QUANT_CASES}
FROM cum GROUP BY lang, n_docs ORDER BY lang
"""


@register(
    "length_quantiles",
    _QUANTILES_SQL,
    doc="EXACT per-language token-count percentiles (p25/p50/p75/p95, "
    "type-1 discrete quantile) via a grouped histogram — the scalable "
    "exact-quantile shape for bounded-domain measures: the only "
    "corpus-sized operation is one map-side-combined groupBy on "
    "(lang, n); the cumulative window then runs over HISTOGRAM rows "
    "(cardinality = distinct token counts, bounded by max doc length, "
    "independent of corpus size), so the window-pin hazard in "
    "queries/_scale_notes.py does not apply. Percentile ranks are pure "
    "bigint ceil-division — bit-exact across engines, unlike "
    "percentile_approx or interpolated percentile_cont.",
    tags=("text", "stats"),
)
def length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.size(words_col(F.col("text"))).cast("long").alias("n"))
    hist = tok.groupBy("lang", "n").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = W.partitionBy("lang").orderBy("n").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy("lang")
    cum = hist.select(
        "lang",
        "n",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_docs"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"CAST((n_docs * {num} + {den} - 1) DIV {den} AS BIGINT)"),
                F.col("n"),
            )
        ).alias(name)
        for name, num, den in QUANTILE_POINTS
    ]
    return cum.groupBy("lang", "n_docs").agg(*aggs).orderBy("lang")


# Deterministic HyperLogLog: b=10 -> m=1024 registers over the portable
# 60-bit hash (bucket = top 10 bits, rho = leftmost-1 position in the
# 50-bit suffix). The harmonic sum is kept as a scaled BIGINT
# (sum of 2^(51-rho); empty registers contribute 2^51) — exact and
# order-independent, unlike the textbook sum of 2^-rho doubles — and
# becomes a double in ONE division at the end, so the estimate is
# bit-identical across engines and partitionings. No small/large-range
# corrections (documented; the raw estimator is the cross-engine
# contract here).
HLL_B = 10
HLL_M = 1 << HLL_B  # 1024
_HLL_SUFFIX_BITS = 60 - HLL_B  # 50
_HLL_MASK = (1 << _HLL_SUFFIX_BITS) - 1
_HLL_SCALE = 1 << (_HLL_SUFFIX_BITS + 1)  # 2^51: empty-register term
# alpha_m * m^2 * 2^51, written as the SAME left-associative literal
# expression in both engines (IEEE ops on identical literals).
_HLL_NUMERATOR = (
    f"0.7213 / (1.0 + 1.079 / {float(HLL_M)}) * {float(HLL_M)} * {float(HLL_M)}"
    f" * {float(_HLL_SCALE)}"
)

_HLL_SQL = f"""
WITH toks AS (SELECT lang, UNNEST({_WS}) AS token FROM documents),
h AS (SELECT lang, token, {phash60_sql('token')} AS hv FROM toks),
reg AS (
  SELECT lang, hv >> {_HLL_SUFFIX_BITS} AS bucket,
         MAX(CASE WHEN (hv & {_HLL_MASK}) = 0 THEN {_HLL_SUFFIX_BITS + 1}
                  ELSE {_HLL_SUFFIX_BITS + 1} - LENGTH(bin(hv & {_HLL_MASK})) END) AS rho
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT lang, COUNT(*) AS n_registers,
         CAST(SUM(1::BIGINT << ({_HLL_SUFFIX_BITS + 1} - rho)) AS BIGINT) AS s_present
  FROM reg GROUP BY lang
),
ex AS (SELECT lang, COUNT(DISTINCT token) AS n_exact FROM toks GROUP BY lang),
est AS (
  SELECT ex.lang, ex.n_exact, agg.n_registers,
         ({_HLL_NUMERATOR})
           / CAST(({HLL_M} - n_registers) * {_HLL_SCALE}::BIGINT + s_present AS DOUBLE)
           AS raw_est
  FROM ex JOIN agg USING (lang)
),
corrected AS (
  SELECT lang, n_exact, n_registers,
         CASE WHEN n_registers < {HLL_M} AND raw_est <= 2.5 * {float(HLL_M)}
              THEN {float(HLL_M)} * LN({float(HLL_M)} / CAST({HLL_M} - n_registers AS DOUBLE))
              ELSE raw_est END AS est
  FROM est
)
SELECT lang, n_exact, n_registers,
       ROUND(est, 4) AS hll_estimate,
       CAST(ROUND((est - n_exact) / n_exact * 1000000, 0) AS BIGINT) AS rel_err_e6
FROM corrected ORDER BY lang
"""


def hll_token_registers(toks: DataFrame) -> DataFrame:
    """(lang, token) rows -> raw (lang, bucket, rho) register
    observations, all map-side Column expressions."""
    hv = phash60(F.col("token"))
    suffix = hv.bitwiseAND(F.lit(_HLL_MASK))
    rho = F.when(suffix == 0, F.lit(_HLL_SUFFIX_BITS + 1)).otherwise(
        F.lit(_HLL_SUFFIX_BITS + 1) - F.length(F.conv(suffix.cast("string"), 10, 2))
    )
    return toks.select(
        "lang", F.shiftright(hv, _HLL_SUFFIX_BITS).alias("bucket"), rho.alias("rho")
    )


def hll_estimate_cols(n_registers: F.Column, s_present: F.Column) -> F.Column:
    """Deterministic HLL estimate from (register count, scaled-BIGINT
    harmonic sum): one double division + the linear-counting branch."""
    numerator = F.expr(_HLL_NUMERATOR)
    s_total = ((F.lit(HLL_M) - n_registers) * F.lit(_HLL_SCALE) + s_present).cast("double")
    raw_est = numerator / s_total
    n_zero = (F.lit(HLL_M) - n_registers).cast("double")
    return F.when(
        (n_registers < HLL_M) & (raw_est <= 2.5 * float(HLL_M)),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / n_zero),
    ).otherwise(raw_est)


@register(
    "hll_distinct_tokens",
    _HLL_SQL,
    doc="Per-language distinct-token cardinality two ways: exact "
    "COUNT(DISTINCT) as the verification baseline, and a DETERMINISTIC "
    f"HyperLogLog (m={HLL_M} registers over the portable 60-bit hash) "
    "whose estimate is bit-identical across engines AND partitionings: "
    "the harmonic sum is a scaled-BIGINT sum of 2^(51-rho) — exact, "
    "order-independent — turned into a double by ONE division, so no "
    "float accumulation order exists to disagree; rho comes from "
    "integer/binary-string ops, never floor(log2(x)) (which misrounds "
    "at power-of-two boundaries). Unlike approx_count_distinct (whose "
    "HLL++ sketch is engine-private and non-reproducible), this sketch "
    "is an auditable contract. Scale path: register extraction is "
    "map-side; the only shuffles are a (lang, bucket) groupBy capped at "
    f"|langs| * {HLL_M} output rows and the lang rollup — the exact "
    "column is the one corpus-sized distinct and exists only for "
    "verification (production drops it and keeps the sketch). The "
    "standard small-range linear-counting correction (m*ln(m/V) when "
    "zero registers exist and the raw estimate <= 2.5m) is applied "
    "identically in both engines — its LN is the one library function "
    "in the expression; a 1-ulp engine disagreement there is absorbed "
    "by the 4dp output rounding except on ~1e-10-probability knife "
    "edges. Large-range correction omitted (needs > 2^57 distincts at "
    "a 60-bit hash).",
    tags=("text", "sketch"),
)
def hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(words_col(F.col("text"))).alias("token"))
    reg = hll_token_registers(toks).groupBy("lang", "bucket").agg(F.max("rho").alias("rho"))
    agg = reg.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SUFFIX_BITS + 1} - rho)")
        ).alias("s_present"),
    )
    ex = toks.groupBy("lang").agg(F.count_distinct("token").alias("n_exact"))
    est = hll_estimate_cols(F.col("n_registers"), F.col("s_present"))
    return (
        ex.join(agg, "lang")
        .select(
            "lang",
            "n_exact",
            "n_registers",
            F.round(est, 4).alias("hll_estimate"),
            F.round((est - F.col("n_exact")) / F.col("n_exact") * 1000000, 0)
            .cast("long")
            .alias("rel_err_e6"),
        )
        .orderBy("lang")
    )


# Count-Min sketch: d independent portable hashes (salted md5), w
# counters each. Counters are exact integer sums -> the whole sketch is
# deterministic and mergeable (add counters cell-wise); the estimate is
# min over d cells, always >= the true count. Small w/d here so the
# fixture corpus exercises collisions; production sizes w ~ 2^20+.
CM_D = 4
CM_W = 64


def _cm_hash(token: F.Column, salt: int) -> F.Column:
    return F.pmod(phash60(F.concat(F.lit(f"cm{salt}:"), token)), F.lit(CM_W))


def _cm_hash_sql(expr: str, salt: int) -> str:
    salted = f"'cm{salt}:' || {expr}"
    return f"{phash60_sql(salted)} % {CM_W}"


TOP_HITTERS = 20

_CM_CELLS_UNION = "\n      UNION ALL ".join(
    f"SELECT {i} AS row_id, {_cm_hash_sql('token', i)} AS col_id FROM toks"
    for i in range(CM_D)
)

_CM_PROBE = ",\n       ".join(
    f"{_cm_hash_sql('token', i)} AS col_{i}" for i in range(CM_D)
)

_CM_SQL = f"""
WITH toks AS (SELECT UNNEST({_WS}) AS token FROM documents),
cells AS (
  {_CM_CELLS_UNION}
),
counters AS (SELECT row_id, col_id, COUNT(*) AS c FROM cells GROUP BY 1, 2),
truth AS (SELECT token, COUNT(*) AS n_true FROM toks GROUP BY token),
top AS (
  SELECT token, n_true FROM truth
  ORDER BY n_true DESC, token LIMIT {TOP_HITTERS}
),
probe AS (
  SELECT token, n_true,
       {_CM_PROBE}
  FROM top
),
est AS (
  SELECT p.token, p.n_true,
         LEAST({", ".join(f"(SELECT c FROM counters WHERE row_id = {i} AND col_id = p.col_{i})" for i in range(CM_D))})
           AS cm_estimate
  FROM probe p
)
SELECT token, n_true, CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - n_true AS BIGINT) AS overestimate
FROM est ORDER BY n_true DESC, token
"""


@register(
    "cm_heavy_hitters",
    _CM_SQL,
    doc=f"Heavy hitters via a Count-Min sketch (d={CM_D} salted portable "
    f"hashes x w={CM_W} counters; production sizes are w ~ 2^20+, the "
    "small grid here forces visible collisions): the corpus top-"
    f"{TOP_HITTERS} tokens by TRUE count, each with its CM estimate = "
    "min over the d cells — provably >= the true count, and "
    "deterministic because every counter is an exact integer sum "
    "(no float anywhere), so the sketch is bit-identical across "
    "engines, partitionings, AND merges (cell-wise addition — the "
    "property that lets a 1000-executor job sketch per partition and "
    "combine). Scale path: cell extraction is map-side (d cells per "
    "token occurrence), counters collapse to <= d*w rows via one "
    "map-side-combined groupBy; the probe side is the tiny top-k "
    "joined against broadcast counters. The exact 'truth' column is "
    "the verification baseline (production keeps only the sketch).",
    tags=("text", "sketch"),
)
def cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(words_col(F.col("text"))).alias("token"))
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"), _cm_hash(F.col("token"), i).alias("col_id")
                    )
                    for i in range(CM_D)
                ]
            )
        ).alias("cell")
    ).select("cell.row_id", "cell.col_id")
    counters = cells.groupBy("row_id", "col_id").agg(F.count(F.lit(1)).alias("c"))
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_true"))
    top = truth.orderBy(F.desc("n_true"), "token").limit(TOP_HITTERS)
    probe = top.select(
        "token",
        "n_true",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"), _cm_hash(F.col("token"), i).alias("col_id")
                    )
                    for i in range(CM_D)
                ]
            )
        ).alias("cell"),
    ).select("token", "n_true", "cell.row_id", "cell.col_id")
    est = (
        probe.join(F.broadcast(counters), ["row_id", "col_id"])
        .groupBy("token", "n_true")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        "token",
        "n_true",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n_true")).alias("overestimate"),
    ).orderBy(F.desc("n_true"), "token")


_MAD_SQL = f"""
WITH tok AS (SELECT lang, CAST(len({_WS}) AS BIGINT) AS n FROM documents),
hist AS (SELECT lang, n, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
cum AS (
  SELECT lang, n,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
  FROM hist
),
med AS (
  SELECT lang, n_docs,
         MIN(CASE WHEN cum >= (n_docs + 1) // 2 THEN n END) AS median
  FROM cum GROUP BY lang, n_docs
),
dev AS (
  SELECT t.lang, ABS(t.n - m.median) AS d, m.n_docs, m.median
  FROM tok t JOIN med m USING (lang)
),
dhist AS (SELECT lang, n_docs, median, d, COUNT(*) AS cnt FROM dev GROUP BY 1, 2, 3, 4),
dcum AS (
  SELECT lang, n_docs, median, d,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dhist
)
SELECT lang, n_docs, median,
       MIN(CASE WHEN cum >= (n_docs + 1) // 2 THEN d END) AS mad
FROM dcum GROUP BY lang, n_docs, median ORDER BY lang
"""


@register(
    "length_mad",
    _MAD_SQL,
    doc="EXACT per-language median absolute deviation of token counts — "
    "the robust outlier statistic quality filters cut on (|n - median| "
    "> k*MAD survives heavy tails where stddev does not). Two grouped-"
    "histogram passes, both under the length_quantiles scale shape: "
    "each pass's only corpus-sized op is a map-side-combined groupBy "
    "on (lang, value); the cumulative windows ride histogram rows "
    "(bounded by the value domain, not the corpus); the per-lang median "
    "joins back as a broadcast-sized dimension. Pure integer arithmetic "
    "end to end (type-1 medians, integer |deviation|) — bit-exact "
    "across engines with no float anywhere.",
    tags=("text", "stats"),
)
def length_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.size(words_col(F.col("text"))).cast("long").alias("n"))

    def _median_of(vals: DataFrame, col: str, extra: list[str]) -> DataFrame:
        hist = vals.groupBy("lang", *extra, col).agg(F.count(F.lit(1)).alias("cnt"))
        w_cum = (
            W.partitionBy("lang", *extra)
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        w_all = W.partitionBy("lang", *extra)
        cum = hist.select(
            "lang",
            *extra,
            col,
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n_all"),
        )
        rank = F.expr("CAST((n_all + 1) DIV 2 AS BIGINT)")
        return cum.groupBy("lang", *extra, "n_all").agg(
            F.min(F.when(F.col("cum") >= rank, F.col(col))).alias(f"median_{col}")
        )

    med = _median_of(tok, "n", []).select(
        "lang", F.col("n_all").alias("n_docs"), F.col("median_n").alias("median")
    )
    dev = tok.join(F.broadcast(med), "lang").select(
        "lang", "n_docs", "median", F.abs(F.col("n") - F.col("median")).alias("d")
    )
    mad = _median_of(dev, "d", ["n_docs", "median"])
    return mad.select("lang", "n_docs", "median", F.col("median_d").alias("mad")).orderBy(
        "lang"
    )


# --- per-language top tokens ------------------------------------------------

# Top-K most frequent tokens per language (ties broken lexically): the
# per-group heavy-hitter view a corpus report shows per language slice
# (cm_heavy_hitters is the global sketch twin; this is the exact
# grouped form).
TOP_TOKENS_K = 5

_TOP_TOKENS_SQL = f"""
WITH w AS (SELECT lang, {_WS} AS ws FROM documents),
t AS (SELECT lang, token FROM w, UNNEST(ws) AS u(token)),
c AS (SELECT lang, token, COUNT(*) AS n FROM t GROUP BY lang, token),
r AS (
  SELECT lang, token, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token)
           AS rank
  FROM c
)
SELECT lang, token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {TOP_TOKENS_K}
ORDER BY lang, rank
"""


@register(
    "lang_top_tokens",
    _TOP_TOKENS_SQL,
    doc=f"Exact top-{TOP_TOKENS_K} tokens per language by corpus "
    "frequency (ties broken lexically) — the grouped heavy-hitter "
    "report behind per-language stopword lists and tokenizer-coverage "
    "audits (cm_heavy_hitters is the global mergeable-sketch twin). "
    "Scale shape: the token count is one explode + map-side-combined "
    "groupBy; the candidate set per language is VOCABULARY-sized "
    "(millions of distinct tokens for a major language), so ranking "
    "rides the bounded pre-top-k (queries/_topk.py) — each task keeps "
    f"<= {TOP_TOKENS_K} tokens per language — before the exact rank "
    "window over <= k x n_partitions survivors; a bare window over "
    "lang would carry an entire language's vocabulary into one task.",
    tags=("text", "stats"),
)
def lang_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._topk import topk_per_group

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(words_col(F.col("text"))).alias("token"))
    cnt = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    pre = topk_per_group(cnt, ["lang"], ["n", "token"], [False, True], TOP_TOKENS_K)
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_TOKENS_K)
        .select("lang", "token", F.col("n").cast("long").alias("n"), "rank")
        .orderBy("lang", "rank")
    )


# -- exact trimmed mean over the token-count histogram ---------------------

TRIM_DEN = 20  # 5% trimmed from each tail (floor(n_docs / 20) docs)

_TRIMMED_SQL = f"""
WITH tok AS (SELECT lang, CAST(len({_WS}) AS BIGINT) AS n FROM documents),
hist AS (SELECT lang, n, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
cum AS (
  SELECT lang, n, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
  FROM hist
),
kept AS (
  SELECT lang, n, n_docs,
         GREATEST(CAST(0 AS BIGINT),
                  LEAST(cum, n_docs - n_docs // {TRIM_DEN})
                  - GREATEST(cum - cnt, n_docs // {TRIM_DEN})) AS kept_cnt
  FROM cum
)
SELECT lang, n_docs,
       n_docs // {TRIM_DEN} AS n_trimmed_each_side,
       CAST(SUM(kept_cnt) AS BIGINT) AS n_kept,
       MIN(CASE WHEN kept_cnt > 0 THEN n END) AS min_kept,
       MAX(CASE WHEN kept_cnt > 0 THEN n END) AS max_kept,
       (CAST(SUM(kept_cnt * n) AS BIGINT) * 1000000) // CAST(SUM(kept_cnt) AS BIGINT)
         AS trimmed_mean_e6
FROM kept GROUP BY lang, n_docs ORDER BY lang
"""


@register(
    "trimmed_mean_tokens",
    _TRIMMED_SQL,
    doc="EXACT 5%-trimmed mean of per-document token counts per "
    "language — the outlier-robust length statistic a curation "
    "pipeline reports next to the straight mean (one viral 10M-token "
    "document moves the mean, not the trimmed mean). Same scale shape "
    "as length_quantiles: the only corpus-sized op is the "
    "map-side-combined (lang, n) histogram groupBy; the cumulative "
    "window runs over histogram rows (bounded by max doc length, "
    "independent of corpus size — the window-pin hazard in "
    "queries/_scale_notes.py does not apply). Boundary values that "
    "straddle the trim rank are kept PARTIALLY via exact rank-interval "
    "intersection (kept = min(cum, hi) - max(cum - cnt, lo) clamped at "
    "0), so the result equals the sorted-and-sliced definition "
    "bit-for-bit; the mean itself is one bigint floor-division in e6 "
    "units — no doubles anywhere.",
    tags=("text", "stats"),
)
def trimmed_mean_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.size(words_col(F.col("text"))).cast("long").alias("n"))
    hist = tok.groupBy("lang", "n").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = W.partitionBy("lang").orderBy("n").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy("lang")
    cum = hist.select(
        "lang",
        "n",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_docs"),
    )
    k = F.expr(f"n_docs DIV {TRIM_DEN}")
    hi = F.col("n_docs") - k
    kept_cnt = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), hi) - F.greatest(F.col("cum") - F.col("cnt"), k),
    )
    kept = cum.select("lang", "n", "n_docs", kept_cnt.alias("kept_cnt"))
    return (
        kept.groupBy("lang", "n_docs")
        .agg(
            F.sum("kept_cnt").cast("long").alias("n_kept"),
            F.min(F.when(F.col("kept_cnt") > 0, F.col("n"))).alias("min_kept"),
            F.max(F.when(F.col("kept_cnt") > 0, F.col("n"))).alias("max_kept"),
            F.expr("(CAST(SUM(kept_cnt * n) AS BIGINT) * 1000000)"
                   " DIV CAST(SUM(kept_cnt) AS BIGINT)").alias("trimmed_mean_e6"),
        )
        .select(
            "lang",
            "n_docs",
            F.expr(f"n_docs DIV {TRIM_DEN}").alias("n_trimmed_each_side"),
            "n_kept",
            "min_kept",
            "max_kept",
            "trimmed_mean_e6",
        )
        .orderBy("lang")
    )


# -- PMI association pairs ----------------------------------------------------

PMI_MIN_COUNT = 20  # min bigram occurrences before a pair is scored

_PMI_SQL = f"""
WITH w AS (SELECT {_WS} AS ws FROM documents),
allt AS (SELECT ws[i] AS tok FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM allt GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM allt),
bi AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS pair, CAST(COUNT(*) AS BIGINT) AS cxy
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2
  GROUP BY 1
),
m AS (SELECT SUM(cxy) AS m_bi FROM bi),
scored AS (
  SELECT SPLIT_PART(pair, ' ', 1) AS w1, SPLIT_PART(pair, ' ', 2) AS w2, cxy
  FROM bi WHERE cxy >= {PMI_MIN_COUNT}
)
SELECT s.w1, s.w2, s.cxy,
       u1.c AS cx, u2.c AS cy, n.n_tok, CAST(m.m_bi AS BIGINT) AS m_bi,
       CAST(s.cxy * n.n_tok * n.n_tok AS DOUBLE)
         / CAST(m.m_bi * u1.c * u2.c AS DOUBLE) AS lift
FROM scored s
JOIN uni u1 ON u1.tok = s.w1
JOIN uni u2 ON u2.tok = s.w2
CROSS JOIN n CROSS JOIN m
ORDER BY lift DESC, w1, w2
LIMIT 50
"""


@register(
    "token_pmi_pairs",
    _PMI_SQL,
    doc="Pointwise-mutual-information collocations (the association "
    "statistic behind phrase mining and tokenizer-merge scoring): "
    f"adjacent token pairs seen >= {PMI_MIN_COUNT} times, ranked by "
    "lift = P(xy)/(P(x)P(y)) = (cxy*N*N)/(M*cx*cy). PMI = ln(lift) is "
    "monotone in lift, so ranking by lift gives the PMI order WITHOUT "
    "an engine-variant transcendental: the numerator and denominator "
    "are exact BIGINT products and the score is ONE double division "
    "of exact operands (bit-stable cross-engine; the exact integers "
    "ship in the output so a consumer can re-derive ln at any "
    "precision). At 100 TB the BIGINT products need DECIMAL(38,0) "
    "headroom — the integer-threshold corollary in _scale_notes.py. "
    "Scale: bigrams and unigrams are map-side array transforms + two "
    "map-side-combined groupBys (vocab-bounded results); the two "
    "count lookups are equi-joins on the token key; N and M are "
    "1-row broadcasts; top-50 is TakeOrderedAndProject.",
    tags=("text", "agg", "topk"),
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = words_col(F.col("text"))
    w = d.select(ws.alias("ws")).persist()
    uni = w.select(F.explode("ws").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = uni.agg(F.sum("c").alias("n_tok"))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.concat_ws(" ", F.slice("ws", i + 1, 2)),
    )
    bi = (
        w.filter(F.size("ws") >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .persist()
    )
    m = bi.agg(F.sum("cxy").alias("m_bi"))
    scored = bi.filter(F.col("cxy") >= PMI_MIN_COUNT).select(
        F.substring_index("pair", " ", 1).alias("w1"),
        F.substring_index("pair", " ", -1).alias("w2"),
        "cxy",
    )
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c").alias("cx"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c").alias("cy"))
    return (
        scored.join(u1, scored.w1 == u1.t1)
        .join(u2, scored.w2 == u2.t2)
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m))
        .select(
            "w1",
            "w2",
            "cxy",
            "cx",
            "cy",
            "n_tok",
            "m_bi",
            (
                (F.col("cxy") * F.col("n_tok") * F.col("n_tok")).cast("double")
                / (F.col("m_bi") * F.col("cx") * F.col("cy")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(50)
    )


# -- BPE tokenizer-training merge loop ----------------------------------------

BPE_ROUNDS = 4  # learned merges (the oracle unrolls the same rounds as CTEs)
BPE_REPLACE_PASSES = 6  # replace-all passes per merge; fixpoint for words
# up to ~2^6 symbols (each pass collapses every other link of an
# overlapping chain, so passes needed is log2 of the longest word)


def _bpe_apply_sql(seg: str, r: int) -> str:
    for _ in range(BPE_REPLACE_PASSES):
        seg = (
            f"REPLACE({seg}, ' ' || b{r}.a || ' ' || b{r}.b || ' ',"
            f" ' ' || b{r}.a || b{r}.b || ' ')"
        )
    return seg


def _bpe_round_sql(r: int) -> str:
    return f"""
p{r} AS (
  SELECT sym[i] AS a, sym[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, list_filter(string_split(TRIM(seg), ' '), x -> x <> '') AS sym
        FROM v{r - 1}),
       UNNEST(generate_series(1, len(sym) - 1)) AS t(i)
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a || ' ' || b LIMIT 1),
v{r} AS (SELECT word, freq, {_bpe_apply_sql('seg', r)} AS seg
         FROM v{r - 1} CROSS JOIN b{r})"""


_BPE_FIT_SQL = (
    f"""
WITH w AS (SELECT {_WS} AS ws FROM documents),
vocab AS (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT ws[i] AS tok FROM w, UNNEST(generate_series(1, len(ws))) AS t(i))
  GROUP BY 1
),
v0 AS (
  SELECT word, freq,
         ' ' || array_to_string(
                  list_transform(generate_series(1, len(word)), i -> word[i]), ' ')
             || ' ' AS seg
  FROM vocab
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))
    + "\nSELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt AS weighted_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    + "\n) ORDER BY merge_rank"
)


@register(
    "bpe_fit",
    _BPE_FIT_SQL,
    doc=f"BPE tokenizer training, {BPE_ROUNDS} merge rounds (Sennrich "
    "et al. 2016): per round, the highest-frequency adjacent symbol "
    "pair over the corpus word-frequency table (tie-break "
    "lexicographic) is learned and applied to every word's symbol "
    "sequence — the training step whose single-round statistic bpe_pair_counts "
    "already exposes. Fully distributed: the argmax pair is a 1-row "
    "TakeOrdered broadcast into the merge-apply (never a driver "
    "collect); the apply is replace-all on the sentinel-delimited "
    f"symbol string, {BPE_REPLACE_PASSES} passes (both engines scan "
    "left-to-right non-overlapping, so even intermediates agree "
    "bit-for-bit; passes = log2(longest word) reaches the fixpoint); "
    "the vocab frame is localCheckpoint'ed per round so plan depth "
    "stays linear in rounds. Scale: the pair count is a map-side-"
    "combined groupBy over the VOCAB (words x their lengths, orders "
    "smaller than the corpus after the one corpus-scan word count); "
    "everything downstream of v0 is vocabulary-sized. Output is "
    "integer counts + strings — no floats anywhere.",
    tags=("text", "iterative", "tokenizer"),
)
def bpe_fit(spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(words_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")), lambda i: F.col("word").substr(i, F.lit(1))
    )
    v = vocab.select(
        "word", "freq", F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("seg")
    ).localCheckpoint()
    merges = []
    for r in range(1, rounds + 1):
        sym = F.filter(F.split(F.trim(F.col("seg")), " "), lambda x: x != "")
        sp = v.select("freq", sym.alias("sym")).filter(F.size("sym") >= 2)
        pairs = F.transform(
            F.sequence(F.lit(0), F.size("sym") - 2),
            lambda i: F.concat_ws(" ", F.slice("sym", i + 1, 2)),
        )
        pc = (
            sp.select("freq", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pc.orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .select(
                F.substring_index("pair", " ", 1).alias("a"),
                F.substring_index("pair", " ", -1).alias("b"),
                "cnt",
            )
            .localCheckpoint()  # 1 row; keeps each round at one vocab pass
        )
        merges.append(
            best.select(
                F.lit(r).alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("weighted_count"),
            )
        )
        if r < rounds:
            seg = F.col("seg")
            search = F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" "))
            repl = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
            for _ in range(BPE_REPLACE_PASSES):
                seg = F.replace(seg, search, repl)
            v = (
                v.crossJoin(F.broadcast(best))
                .select("word", "freq", seg.alias("seg"))
                .localCheckpoint()
            )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


# -- BPE encode: apply the learned merges corpus-wide --------------------------
#
# The consumer of bpe_fit: tokenize the whole corpus under the learned
# merge table and report per-language fertility (tokens/word) and
# compression (chars/token) — the metrics a tokenizer-training loop
# watches (Rust et al. 2021, "How Good is Your Tokenizer?"). The
# reference has no tokenizer at all (it OCRs glyphs); this is the
# training-data-pipeline closure of bpe_pair_counts -> bpe_fit.

_BPE_ENC_SYM = "list_filter(string_split(TRIM(seg), ' '), x -> x <> '')"

_BPE_ENCODE_SQL = (
    f"""
WITH dw0 AS (SELECT lang, {_WS} AS ws FROM documents),
dw AS (
  SELECT lang, ws[i] AS word
  FROM dw0, UNNEST(generate_series(1, len(ws))) AS t(i)
),
vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM dw GROUP BY 1),
v0 AS (
  SELECT word, freq,
         ' ' || array_to_string(
                  list_transform(generate_series(1, len(word)), i -> word[i]), ' ')
             || ' ' AS seg
  FROM vocab
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))
    + f""",
enc AS (
  SELECT word, CAST(len({_BPE_ENC_SYM}) AS BIGINT) AS n_tok
  FROM v{BPE_ROUNDS}
)
SELECT dw.lang,
       COUNT(*) AS n_words,
       CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(len(dw.word)) AS BIGINT) AS n_chars,
       CAST(SUM(e.n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility,
       CAST(SUM(len(dw.word)) AS DOUBLE) / CAST(SUM(e.n_tok) AS DOUBLE)
         AS chars_per_token
FROM dw JOIN enc e USING (word)
GROUP BY dw.lang
ORDER BY dw.lang
"""
)


@register(
    "bpe_encode_stats",
    _BPE_ENCODE_SQL,
    doc=f"Corpus-wide BPE ENCODE under the {BPE_ROUNDS} merges bpe_fit "
    "learns: tokenize every word with the learned merge table and "
    "report per-language fertility (tokens/word) and compression "
    "(chars/token) — the metrics a tokenizer loop watches (Rust et "
    "al. 2021). Both engines learn the merges with bpe_fit's exact "
    "rules (1-row TakeOrdered argmax broadcast, sentinel replace-all "
    "apply, lexicographic ties), then the encode itself runs ONLY on "
    "the VOCABULARY (distinct words — orders smaller than the corpus) "
    "and joins token counts back to the corpus word stream by an "
    "equi-join on word (vocab side is broadcastable; at 100 TB it is "
    "an AQE-splittable hash join). Aggregates are map-side-combined "
    "BIGINT sums per language; the two ratios are single double "
    "divisions of exact integers. The oracle replays the identical "
    "merge rounds as unrolled CTEs, so hash parity proves fit AND "
    "encode agree bit-for-bit end-to-end.",
    tags=("text", "tokenizer", "pipeline"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    dw = d.select("lang", F.explode(words_col(F.col("text"))).alias("word"))
    vocab = dw.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")), lambda i: F.col("word").substr(i, F.lit(1))
    )
    v = vocab.select(
        "word", "freq", F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("seg")
    ).localCheckpoint()
    for _r in range(1, rounds + 1):
        sym = F.filter(F.split(F.trim(F.col("seg")), " "), lambda x: x != "")
        sp = v.select("freq", sym.alias("sym")).filter(F.size("sym") >= 2)
        pairs = F.transform(
            F.sequence(F.lit(0), F.size("sym") - 2),
            lambda i: F.concat_ws(" ", F.slice("sym", i + 1, 2)),
        )
        best = (
            sp.select("freq", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .select(
                F.substring_index("pair", " ", 1).alias("a"),
                F.substring_index("pair", " ", -1).alias("b"),
            )
            .localCheckpoint()  # 1 row; keeps each round at one vocab pass
        )
        seg = F.col("seg")
        search = F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" "))
        repl = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        for _ in range(BPE_REPLACE_PASSES):
            seg = F.replace(seg, search, repl)
        v = (
            v.crossJoin(F.broadcast(best))
            .select("word", "freq", seg.alias("seg"))
            .localCheckpoint()
        )
    enc_sym = F.filter(F.split(F.trim(F.col("seg")), " "), lambda x: x != "")
    enc = v.select("word", F.size(enc_sym).cast("long").alias("n_tok"))
    return (
        dw.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "fertility"
            ),
            (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )
