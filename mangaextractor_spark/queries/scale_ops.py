"""Operators whose entire point is the 100 TB shape: an exact-integer
bigram language-model quality score (the CCNet perplexity-filter shape
without drift-prone log-probs), Bloom-filter decontamination (the
sketch that replaces the base-corpus join in cross-snapshot dedup),
Z-order multi-dimensional layout + the file-skipping stats that
measure it (the Delta/Iceberg OPTIMIZE ZORDER data plane), the
join-skew pre-flight diagnostic, BPE tokenizer-training pair counts,
feature-hashing document vectors, and the bucketed interval self-join
that turns a time-window theta join into an equi-join.

All of them follow the repo's determinism rules (queries/__init__.py):
every corpus-sized frequency is a map-side-combined groupBy joined
back (never a window — queries/_scale_notes.py), every ratio is one
double division of exact integers, and every bit of sketch state is
reproducible integer arithmetic identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import WORDS_SQL, phash60_sql, words_col

_WS = WORDS_SQL.format(t="text")

# -- bigram LM quality -------------------------------------------------

# Conditional-probability scale: each bigram occurrence scores
# (1e6 * c(w1 w2)) DIV c(w1 *) — a pure integer floor division of exact
# corpus counts, so per-doc sums are BIGINT-exact and order-independent
# (a float log-prob sum would drift with partitioning and engine).
LM_SCALE = 1_000_000

_LM_SQL = f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
wf AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS bg
  FROM wf, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
c2 AS (SELECT w1, bg, COUNT(*) AS c2 FROM bg GROUP BY w1, bg),
r AS (SELECT c2.bg, ({LM_SCALE} * c2.c2) // c1.c1 AS r FROM c2 JOIN c1 USING (w1)),
sc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(r.r) AS score_sum
  FROM bg JOIN r USING (bg) GROUP BY doc_id
)
SELECT doc_id, n_bigrams, CAST(score_sum AS BIGINT) AS score_sum,
       CAST(score_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS lm_score
FROM sc ORDER BY doc_id
"""


@register(
    "bigram_lm_quality",
    _LM_SQL,
    doc="Corpus-conditional bigram LM score per document — the CCNet "
    "'perplexity against an in-domain LM' quality filter re-expressed "
    "with exact integer arithmetic: each bigram occurrence contributes "
    f"({LM_SCALE} * c(w1 w2)) DIV c(w1 ·) where the denominator is the "
    "count of bigrams STARTING with w1 (so ratios are true conditional "
    "frequencies: they sum to ~1e6 over w2). Low scores = improbable "
    "word transitions = gibberish/boilerplate candidates; unlike a "
    "float log-prob sum, the BIGINT score_sum is bit-identical across "
    "engines and partitionings, and lm_score is ONE double division of "
    "exact operands. Scale shape: the exploded bigram frame is "
    "persisted once (it feeds three consumers — c1, c2 and the per-doc "
    "probe); both count tables are map-side-combined groupBys; the "
    "ratio dimension joins back on the corpus-sized bigram key as an "
    "AQE-skew-splittable equi-join (a hot bigram is a hot JOIN key, "
    "never a window pin — queries/_scale_notes.py); the per-doc rollup "
    "is one more map-side-combined groupBy. Total: one corpus scan + "
    "three aggregate shuffles, no window, no driver state.",
    tags=("text", "quality", "lm"),
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = d.select("doc_id", words_col(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 2
    )
    mk = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.struct(
            F.get("ws", i).alias("w1"),
            F.concat_ws(" ", F.slice("ws", i + 1, 2)).alias("bg"),
        ),
    )
    bg = ws.select("doc_id", F.explode(mk).alias("b")).select(
        "doc_id", "b.w1", "b.bg"
    )
    bg = bg.persist()  # feeds c1, c2 and the probe — one explode, not three
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("w1", "bg").agg(F.count(F.lit(1)).alias("c2"))
    ratio = c2.join(c1, "w1").select(
        "bg", F.expr(f"({LM_SCALE} * c2) DIV c1").alias("r")
    )
    sc = (
        bg.join(ratio, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("r").alias("score_sum"),
        )
    )
    return sc.select(
        "doc_id",
        "n_bigrams",
        "score_sum",
        (F.col("score_sum").cast("double") / F.col("n_bigrams").cast("double")).alias(
            "lm_score"
        ),
    ).orderBy("doc_id")


# -- Bloom-filter decontamination --------------------------------------

# Deliberately small grid (like cm_heavy_hitters' colliding fixture) so
# the sf0.01 output EXHIBITS false positives: 1024 bits / 2 hashes over
# ~400 base keys gives a visible FP band the QC view is built to count.
# Production sizing is ~10 bits/key, k=7 for <1% FP: 10^12 keys =
# ~1.2 TB of filter as a TABLE, or per-partition filters; the point is
# the filter is ~100x smaller than the key set it replaces.
BLOOM_BITS = 1024
BLOOM_K = 2
BLOOM_WORD_BITS = 32  # value fits a positive BIGINT in both engines

_BLOOM_POS = "TRY_CAST('0x' || SUBSTR(md5(content_hash || ':' || j), 1, 15) AS BIGINT) % {m}"

_BLOOM_SQL = f"""
WITH hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
base AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 5 <> 4),
bpos AS (
  SELECT {_BLOOM_POS.format(m=BLOOM_BITS)} AS pos
  FROM base, UNNEST(generate_series(0, {BLOOM_K - 1})) AS t(j)
),
bloom AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         BIT_OR(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER)) AS bits
  FROM bpos GROUP BY pos // {BLOOM_WORD_BITS}
),
inc AS (SELECT doc_id, content_hash FROM hashed WHERE doc_id % 5 = 4),
probe AS (
  SELECT doc_id, content_hash,
         {_BLOOM_POS.format(m=BLOOM_BITS)} AS pos
  FROM inc, UNNEST(generate_series(0, {BLOOM_K - 1})) AS t(j)
),
hits AS (
  SELECT p.doc_id, p.content_hash,
         CASE WHEN (COALESCE(b.bits, 0) >> CAST(p.pos % {BLOOM_WORD_BITS} AS INTEGER)) & 1 = 1
              THEN 1 ELSE 0 END AS hit
  FROM probe p LEFT JOIN bloom b ON p.pos // {BLOOM_WORD_BITS} = b.word
),
agg AS (
  SELECT doc_id, content_hash, MIN(hit) = 1 AS bloom_hit
  FROM hits GROUP BY doc_id, content_hash
)
SELECT a.doc_id, a.content_hash, a.bloom_hit,
       (b.content_hash IS NOT NULL) AS true_dup
FROM agg a LEFT JOIN base b ON a.content_hash = b.content_hash
ORDER BY a.doc_id
"""


@register(
    "bloom_decontamination",
    _BLOOM_SQL,
    doc=f"Bloom-filter membership screen for crawl increments — the "
    "sketch that makes incremental_dedup's base-corpus anti-join "
    "optional at 100 TB: the base corpus's distinct content hashes are "
    f"folded into a {BLOOM_BITS}-bit / k={BLOOM_K} Bloom filter "
    f"(deterministic positions = portable 60-bit md5 hash of "
    "hash||':'||j mod m; register words are BIGINT bit_or rollups, so "
    "build order and partitioning never change a bit), and every "
    "increment doc probes it. Output is the QC view: bloom_hit next to "
    "true_dup, so the false-positive band (hit AND NOT dup) is "
    "measurable before trusting the filter — the grid is deliberately "
    "small so the fixture EXHIBITS those false positives (production: "
    "~10 bits/key, k=7, <1% FP; the filter is then ~100x smaller than "
    "the key set and broadcast-resident on every executor, so a new "
    "crawl is screened in ONE map-side scan with zero base-side "
    "shuffle). Scale shape: the build is a map-side-combined BIT_OR "
    f"groupBy over {BLOOM_K}x|base| rows into {BLOOM_BITS // BLOOM_WORD_BITS} "
    "register words; the probe side joins those words BROADCAST; "
    "true_dup (the audit column, not needed in production) is the only "
    "corpus-sized equi-join and AQE can skew-split it.",
    tags=("dedup", "sketch", "pipeline"),
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    js = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("content_hash"), F.col("j")).cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_BITS
    )
    base = d.filter(F.col("doc_id") % 5 != 4).select("content_hash").distinct()
    bloom = (
        base.select(F.explode(js).alias("j"), "content_hash")
        .select(pos.alias("pos"))
        .select(
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("v"),
        )
        .groupBy("word")
        .agg(F.bit_or("v").alias("bits"))
    )
    inc = d.filter(F.col("doc_id") % 5 == 4)
    probe = inc.select("doc_id", "content_hash", F.explode(js).alias("j")).select(
        "doc_id",
        "content_hash",
        pos.alias("pos"),
    )
    hits = probe.select(
        "doc_id",
        "content_hash",
        F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
        (F.col("pos") % BLOOM_WORD_BITS).cast("int").alias("bit"),
    ).join(F.broadcast(bloom), "word", "left")
    hit = F.when(
        F.expr("shiftright(COALESCE(bits, CAST(0 AS BIGINT)), bit) & CAST(1 AS BIGINT)")
        == 1,
        F.lit(1),
    ).otherwise(F.lit(0))
    agg = (
        hits.select("doc_id", "content_hash", hit.alias("hit"))
        .groupBy("doc_id", "content_hash")
        .agg((F.min("hit") == 1).alias("bloom_hit"))
    )
    marked_base = base.select("content_hash", F.lit(True).alias("_in_base"))
    return (
        agg.join(marked_base, "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            "bloom_hit",
            F.coalesce(F.col("_in_base"), F.lit(False)).alias("true_dup"),
        )
        .orderBy("doc_id")
    )


# -- Z-order layout -----------------------------------------------------

Z_BITS = 8  # bits per dimension
Z_FILES = 16
Z_LEN_DIV = 4  # n_chars DIV 4, capped to 8 bits (spans the fixture's 48..553-char band)
# Declared language domain: data-driven rank discovery would cost a
# scan; unknown langs go to the top bucket.
Z_LANG_CODES = {"de": 0, "en": 1, "es": 2, "fr": 3, "zh": 4}
Z_LANG_DEFAULT = 7


def _z_expr(shift_fn_left: str, use_duck: bool) -> str:
    """Morton interleave of (len_b, lang_code), 8 bits each.

    Emits the same arithmetic for both engines; only the shift-operator
    spelling differs (DuckDB ``x << n`` vs Spark ``shiftleft(x, n)``).
    """
    terms = []
    for i in range(Z_BITS):
        if use_duck:
            terms.append(f"(((len_b >> {i}) & 1) << {2 * i})")
            terms.append(f"(((lang_code >> {i}) & 1) << {2 * i + 1})")
        else:
            terms.append(f"shiftleft(shiftright(len_b, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright(lang_code, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


_Z_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(Z_LANG_CODES.items()))
    + f" ELSE {Z_LANG_DEFAULT} END"
)

_Z_STEP = 2 ** (2 * Z_BITS) // Z_FILES

_ZORDER_SQL = f"""
WITH dims AS (
  SELECT doc_id, lang,
         {_Z_CASE} AS lang_code,
         LEAST(n_chars // {Z_LEN_DIV}, {2**Z_BITS - 1}) AS len_b
  FROM documents
),
z AS (
  SELECT doc_id, lang, lang_code, len_b,
         CAST({_z_expr('', True)} AS BIGINT) AS zvalue
  FROM dims
)
SELECT doc_id, lang, CAST(lang_code AS BIGINT) AS lang_code,
       CAST(len_b AS BIGINT) AS len_b, zvalue,
       zvalue // {_Z_STEP} AS file_id
FROM z ORDER BY doc_id
"""


@register(
    "zorder_layout",
    _ZORDER_SQL,
    doc=f"Z-order (Morton) clustering key over (lang, length-bucket) — "
    "the data-plane computation behind Delta OPTIMIZE ZORDER / Iceberg "
    "sort orders: interleaving the bits of both dimensions makes files "
    "written in zvalue ranges tight in BOTH columns at once, so "
    "min/max file-skipping prunes scans filtered on either (a plain "
    "lexicographic sort only prunes the leading column). Every doc "
    f"gets a {2 * Z_BITS}-bit zvalue (declared language domain -> "
    f"3-bit code, n_chars DIV {Z_LEN_DIV} capped to {Z_BITS} bits) and "
    f"a target file = zvalue DIV {_Z_STEP} ({Z_FILES} equal key "
    "ranges). Pure per-row integer bit arithmetic — ZERO shuffles "
    "besides the presentation sort; at 100 TB this runs as a "
    "repartitionByRange(zvalue) write, the range exchange being the "
    "one unavoidable shuffle of any clustering rewrite. Both engines "
    "compute the interleave from the same generated expression, so the "
    "check is bit-exact.",
    tags=("layout", "storage"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dims = d.select(
        "doc_id",
        "lang",
        F.expr(_Z_CASE).cast("long").alias("lang_code"),
        F.least(F.expr(f"n_chars DIV {Z_LEN_DIV}"), F.lit(2**Z_BITS - 1))
        .cast("long")
        .alias("len_b"),
    )
    z = dims.select(
        "doc_id",
        "lang",
        "lang_code",
        "len_b",
        F.expr(_z_expr("", False)).cast("long").alias("zvalue"),
    )
    return z.select(
        "doc_id",
        "lang",
        "lang_code",
        "len_b",
        "zvalue",
        F.expr(f"zvalue DIV {_Z_STEP}").alias("file_id"),
    ).orderBy("doc_id")


# -- file-skipping statistics -------------------------------------------

# Declared predicate set evaluated against per-file min/max column
# stats (the Iceberg-manifest / parquet-footer pruning model). Ranges
# are inclusive; lang predicates are on lang_code, length predicates on
# len_b (same derived dims as zorder_layout).
SKIP_PREDS = [
    # (pred_id, lang_lo, lang_hi, len_lo, len_hi)
    ("len_40_60", 0, 7, 40, 60),
    ("lang_en", 1, 1, 0, 255),
    ("fr_len_20_40", 3, 3, 20, 40),
]


def _pred_values_sql() -> str:
    rows = ", ".join(
        f"('{p}', {a}, {b}, {c}, {d})" for p, a, b, c, d in SKIP_PREDS
    )
    return (
        f"(VALUES {rows}) AS preds(pred_id, lang_lo, lang_hi, len_lo, len_hi)"
    )


_SKIP_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         {_Z_CASE} AS lang_code,
         LEAST(n_chars // {Z_LEN_DIV}, {2**Z_BITS - 1}) AS len_b
  FROM documents
),
assigned AS (
  SELECT doc_id, lang_code, len_b,
         CAST({_z_expr('', True)} AS BIGINT) // {_Z_STEP} AS z_file,
         CAST(lang_code * 2 + CASE WHEN len_b >= 128 THEN 1 ELSE 0 END AS BIGINT)
           AS lex_file
  FROM dims
),
stats AS (
  SELECT 'zorder' AS layout, z_file AS file_id,
         MIN(lang_code) AS lang_min, MAX(lang_code) AS lang_max,
         MIN(len_b) AS len_min, MAX(len_b) AS len_max,
         COUNT(*) AS n_rows
  FROM assigned GROUP BY z_file
  UNION ALL
  SELECT 'lex', lex_file,
         MIN(lang_code), MAX(lang_code), MIN(len_b), MAX(len_b), COUNT(*)
  FROM assigned GROUP BY lex_file
)
SELECT s.layout, preds.pred_id,
       COUNT(*) AS n_files,
       CAST(SUM(CASE WHEN s.lang_max >= preds.lang_lo AND s.lang_min <= preds.lang_hi
                      AND s.len_max >= preds.len_lo AND s.len_min <= preds.len_hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read,
       CAST(SUM(CASE WHEN s.lang_max >= preds.lang_lo AND s.lang_min <= preds.lang_hi
                      AND s.len_max >= preds.len_lo AND s.len_min <= preds.len_hi
                     THEN s.n_rows ELSE 0 END) AS BIGINT) AS n_rows_read
FROM stats s CROSS JOIN {_pred_values_sql()}
GROUP BY s.layout, preds.pred_id
ORDER BY s.layout, preds.pred_id
"""


@register(
    "file_skipping_stats",
    _SKIP_SQL,
    doc="Quantifies min/max file skipping (the Iceberg-manifest / "
    "parquet-footer pruning model) for the SAME corpus written under "
    "two layouts: zorder_layout's Morton key ranges vs a lexicographic "
    "(lang, coarse-length) grid with the same file count. For each "
    "declared predicate, a file must be read iff its per-column min/max "
    "envelope intersects the predicate's ranges — exactly the decision "
    "a scan planner makes from manifest stats, computed here as data so "
    "the layout trade is MEASURED, not asserted: the lex grid wins on "
    "its leading column (lang), Z-order keeps BOTH dimensions partially "
    "tight so length-only predicates skip files lex must read. Scale "
    "shape: the per-file stats are two map-side-combined groupBys over "
    "derived dims (one corpus scan); everything after rides the "
    "file-count-sized stats frame crossed with the declared predicate "
    "literals — at 10^12 docs this is the manifest, thousands of rows.",
    tags=("layout", "storage"),
)
def file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dims = d.select(
        "doc_id",
        F.expr(_Z_CASE).cast("long").alias("lang_code"),
        F.least(F.expr(f"n_chars DIV {Z_LEN_DIV}"), F.lit(2**Z_BITS - 1))
        .cast("long")
        .alias("len_b"),
    )
    assigned = dims.select(
        "lang_code",
        "len_b",
        F.expr(f"({_z_expr('', False)}) DIV {_Z_STEP}").alias("z_file"),
        (
            F.col("lang_code") * 2
            + F.when(F.col("len_b") >= 128, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("lex_file"),
    )

    def _stats(file_col: str, layout: str) -> DataFrame:
        return assigned.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("lang_code").alias("lang_min"),
            F.max("lang_code").alias("lang_max"),
            F.min("len_b").alias("len_min"),
            F.max("len_b").alias("len_max"),
            F.count(F.lit(1)).alias("n_rows"),
        ).select(F.lit(layout).alias("layout"), "*")

    stats = _stats("z_file", "zorder").unionByName(_stats("lex_file", "lex"))
    preds = spark.createDataFrame(
        SKIP_PREDS, "pred_id string, lang_lo long, lang_hi long, len_lo long, len_hi long"
    )
    read = (
        (F.col("lang_max") >= F.col("lang_lo"))
        & (F.col("lang_min") <= F.col("lang_hi"))
        & (F.col("len_max") >= F.col("len_lo"))
        & (F.col("len_min") <= F.col("len_hi"))
    )
    return (
        stats.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(read, 1).otherwise(0)).alias("n_files_read"),
            F.sum(F.when(read, F.col("n_rows")).otherwise(0)).alias("n_rows_read"),
        )
        .orderBy("layout", "pred_id")
    )


# -- join-skew diagnostic -----------------------------------------------

SKEW_TOP = 10
SKEW_SCALE = 1_000_000

_SKEW_SQL = f"""
WITH per_key AS (
  SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         MAX(cnt) AS max_cnt FROM per_key
)
SELECT p.key, p.cnt,
       ({SKEW_SCALE} * p.cnt) // t.n_rows AS share_e6,
       ({SKEW_SCALE} * p.cnt * t.n_keys) // t.n_rows AS vs_mean_e6,
       t.n_keys, t.n_rows, t.max_cnt
FROM per_key p CROSS JOIN tot t
ORDER BY p.cnt DESC, p.key LIMIT {SKEW_TOP}
"""


@register(
    "join_skew_report",
    _SKEW_SQL,
    doc=f"Pre-flight skew diagnostic for a join key (orders.o_custkey "
    "here): the top-{0} hottest keys with exact counts, each key's "
    "corpus share and its ratio to the mean key population (both "
    f"e6-scaled integer floor divisions, bit-exact cross-engine) plus "
    "the global key/row/max counters on every row. This is the view "
    "you run BEFORE a 100 TB join to decide between AQE skew-split, "
    "salting, or a broadcast: vs_mean_e6 >> 1e6 on the head keys means "
    "the shuffle will straggle. Scale shape: one map-side-combined "
    "groupBy builds per-key counts; the rollup is a single-row "
    "aggregate broadcast back; the head extraction is sort+limit "
    "(TakeOrdered — per-partition top-k merged on the driver, never a "
    "corpus-sized window).".format(SKEW_TOP),
    tags=("diagnostics", "relational"),
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_key = per_key.persist()  # feeds the rollup AND the head extraction
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.expr(f"({SKEW_SCALE} * cnt) DIV n_rows").alias("share_e6"),
            F.expr(f"({SKEW_SCALE} * cnt * n_keys) DIV n_rows").alias("vs_mean_e6"),
            "n_keys",
            "n_rows",
            "max_cnt",
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(SKEW_TOP)
    )


# -- BPE merge rounds ----------------------------------------------------

BPE_TOP = 15

_BPE_SQL = f"""
WITH w AS (SELECT {_WS} AS ws FROM documents),
toks AS (SELECT UNNEST(ws) AS word FROM w),
wc AS (
  SELECT word, COUNT(*) AS cnt,
         array_to_string(string_split(word, ''), ' ') AS spell
  FROM toks GROUP BY word
),
sy1 AS (SELECT cnt, string_split(spell, ' ') AS sy, spell FROM wc),
p1 AS (
  SELECT sy[i] || ' ' || sy[i + 1] AS pair, cnt
  FROM sy1, UNNEST(generate_series(1, len(sy) - 1)) AS t(i)
  WHERE len(sy) >= 2
),
pc1 AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS wcount FROM p1 GROUP BY pair),
top1 AS (SELECT pair FROM pc1 ORDER BY wcount DESC, pair LIMIT 1),
sp2 AS (
  SELECT s.cnt, replace(s.spell, t.pair, replace(t.pair, ' ', '')) AS spell
  FROM sy1 s CROSS JOIN top1 t
),
sy2 AS (SELECT cnt, string_split(spell, ' ') AS sy FROM sp2),
p2 AS (
  SELECT sy[i] || ' ' || sy[i + 1] AS pair, cnt
  FROM sy2, UNNEST(generate_series(1, len(sy) - 1)) AS t(i)
  WHERE len(sy) >= 2
),
pc2 AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS wcount FROM p2 GROUP BY pair)
SELECT * FROM (
  SELECT 1 AS merge_round, pair, wcount FROM
    (SELECT pair, wcount FROM pc1 ORDER BY wcount DESC, pair LIMIT {BPE_TOP})
  UNION ALL
  SELECT 2, pair, wcount FROM
    (SELECT pair, wcount FROM pc2 ORDER BY wcount DESC, pair LIMIT {BPE_TOP})
) ORDER BY merge_round, wcount DESC, pair
"""


@register(
    "bpe_pair_counts",
    _BPE_SQL,
    doc=f"The first two rounds of BPE tokenizer training (Sennrich et "
    "al. 2016, arXiv:1508.07909) over the corpus: adjacent-symbol pair "
    "counts weighted by word frequency, the winning pair merged "
    "everywhere (left-to-right non-overlapping, both engines' replace "
    "semantics), then pairs recounted on the merged spellings — top-"
    f"{BPE_TOP} per round. This is how tokenizer training actually "
    "meets a 100 TB corpus: ONE corpus-sized groupBy folds the text "
    "into the word-frequency table (the sentencepiece/HF pre-count), "
    "after which every merge iteration rides the VOCABULARY — millions "
    "of rows, not terabytes. The merge election is a 1-row TakeOrdered "
    "broadcast back (never a global window); pair counts are "
    "map-side-combined groupBys; counts are exact BIGINTs so the merge "
    "choice (max count, lexicographic tie-break) is deterministic "
    "across engines and partitionings.",
    tags=("text", "tokenizer", "iterative"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(words_col(F.col("text"))).alias("word"))
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    spells = wc.select(
        "cnt", F.concat_ws(" ", F.split("word", "")).alias("spell")
    ).localCheckpoint()  # vocabulary-sized; corpus scan runs once, not per round

    def pair_counts(sp: DataFrame) -> DataFrame:
        sy = sp.select("cnt", F.split("spell", " ").alias("sy"))
        prs = F.when(
            F.size("sy") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("sy") - 2),
                lambda i: F.concat_ws(
                    " ", F.get("sy", i), F.get("sy", i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            sy.select("cnt", F.explode(prs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("wcount"))
        )

    pc1 = pair_counts(spells)
    top1 = pc1.orderBy(F.desc("wcount"), "pair").limit(1).select("pair")
    sp2 = spells.crossJoin(F.broadcast(top1)).select(
        "cnt",
        F.expr("replace(spell, pair, replace(pair, ' ', ''))").alias("spell"),
    )
    pc2 = pair_counts(sp2)
    r1 = (
        pc1.orderBy(F.desc("wcount"), "pair")
        .limit(BPE_TOP)
        .select(F.lit(1).alias("merge_round"), "pair", "wcount")
    )
    r2 = (
        pc2.orderBy(F.desc("wcount"), "pair")
        .limit(BPE_TOP)
        .select(F.lit(2).alias("merge_round"), "pair", "wcount")
    )
    return r1.unionByName(r2).orderBy("merge_round", F.desc("wcount"), "pair")


# -- feature-hashing vectors ---------------------------------------------

FH_DIM = 64

_FH_IDX = phash60_sql("token")

_FH_SQL = f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
toks AS (SELECT doc_id, UNNEST(ws) AS token FROM w),
h AS (
  SELECT doc_id,
         {_FH_IDX} % {FH_DIM} AS dim,
         CASE WHEN ({_FH_IDX} // {FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM toks
)
SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS val
FROM h GROUP BY doc_id, dim
HAVING SUM(sign) <> 0
ORDER BY doc_id, dim
"""


@register(
    "feature_hash_vectors",
    _FH_SQL,
    doc=f"Feature-hashing (the hashing trick, Weinberger et al. 2009, "
    f"ICML) document vectors at dim={FH_DIM}: every token lands in "
    "bucket phash60(token) mod dim with a +/-1 sign drawn from the "
    "next hash bit, so collisions cancel in expectation and the "
    "embedding needs NO vocabulary pass — the property that makes it "
    "the out-of-core featurizer for corpus-scale clustering/classifier "
    "runs (contrast token_rarity_quality's top-K vocab, which needs "
    "the frequency table first). Output is the sparse form (doc_id, "
    "dim, val), zero-cancelled entries dropped, exact BIGINT sums. "
    "Scale shape: one scan, one map-side-combined groupBy on (doc_id, "
    "dim) — per-group size is bounded by the document's own tokens; "
    "no vocabulary state, no window, no driver collection.",
    tags=("text", "features"),
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._portable import phash60 as _ph

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
    h = toks.select("doc_id", _ph(F.col("token")).alias("hv")).select(
        "doc_id",
        (F.col("hv") % FH_DIM).alias("dim"),
        # sign from the next hash bit: (hv DIV FH_DIM) % 2
        F.when(F.expr(f"(hv DIV {FH_DIM}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("val"))
        .filter(F.col("val") != 0)
        .orderBy("doc_id", "dim")
    )


# -- Bloom register row (probed by queries/minhash_gate.py) --------------


def bloom_positions(hash_col: F.Column) -> F.Column:
    """array<long> of the BLOOM_K bit positions for a content hash —
    identical arithmetic to the batch query / DuckDB oracle."""
    return F.transform(
        F.array(*[F.lit(j) for j in range(BLOOM_K)]),
        lambda j: F.conv(
            F.substring(
                F.md5(F.concat_ws(":", hash_col, j).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_BITS,
    )


def bloom_register_row(base_hashes: DataFrame) -> DataFrame:
    """Fold a (content_hash) frame into ONE row holding the filter as
    map<word, bits>. The map has at most BLOOM_BITS/BLOOM_WORD_BITS
    entries — constant in the corpus — so broadcasting this row is the
    sketch's whole point. Not cached: a query broadcasts it once."""
    words = (
        base_hashes.select(F.explode(bloom_positions(F.col("content_hash"))).alias("pos"))
        .select(
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("v"),
        )
        .groupBy("word")
        .agg(F.bit_or("v").alias("bits"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )


# -- bucketed interval self-join ------------------------------------------

OVERLAP_US = 300 * 1_000_000  # 5-minute pairing window, in microseconds

_OVERLAP_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
)
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
       b.us - a.us AS gap_us
FROM e a JOIN e b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND abs(a.us - b.us) <= {OVERLAP_US}
ORDER BY a.user_id, a_id, b_id
"""


@register(
    "event_overlap_pairs",
    _OVERLAP_SQL,
    doc="Bucketed interval self-join: pairs of events by the same user "
    "within a 5-minute window — the shape of co-occurrence joins, "
    "sessional theta joins and as-of candidate generation. The oracle "
    "states the naive theta join (|t_a - t_b| <= W); the Spark side "
    "runs the SCALE form: each event lands in time bucket t DIV W, the "
    "LEFT side explodes to its three adjacent buckets and the join is "
    "a pure EQUI-join on (user_id, bucket) followed by the exact "
    "|gap| <= W filter. Because a qualifying pair's buckets differ by "
    "at most 1, each pair matches in EXACTLY one bucket — no dedup "
    "pass. This turns the quadratic per-user theta join (a hot user = "
    "one straggler task, unsplittable) into a shuffle AQE can "
    "skew-split, with candidate fan-out bounded by 3x the events that "
    "share a bucket; results are identical by construction and the "
    "plan is asserted free of BroadcastNestedLoopJoin/CartesianProduct.",
    tags=("relational", "interval", "scale"),
)
def event_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ + UTC session = epoch_us
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {OVERLAP_US}").alias("bucket"),
    )
    left = e.select(
        F.col("user_id"),
        F.col("event_id").alias("a_id"),
        F.col("us").alias("a_us"),
        F.explode(
            F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
        ).alias("bucket"),
    )
    right = e.select(
        F.col("user_id"),
        F.col("event_id").alias("b_id"),
        F.col("us").alias("b_us"),
        F.col("bucket"),
    )
    return (
        left.join(right, ["user_id", "bucket"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_us") - F.col("b_us")) <= OVERLAP_US)
        )
        .select(
            "user_id",
            "a_id",
            "b_id",
            (F.col("b_us") - F.col("a_us")).alias("gap_us"),
        )
        .orderBy("user_id", "a_id", "b_id")
    )


# -- equi-depth range partitioning ----------------------------------------

N_RANGES = 8

_RANGE_BOUNDS = ",\n         ".join(
    f"MIN(CASE WHEN cum >= (n_docs * {k} + {N_RANGES - 1}) // {N_RANGES} THEN n END) AS b{k}"
    for k in range(1, N_RANGES)
)
_RANGE_PART_ID = " + ".join(
    f"(CASE WHEN d.n_chars > b.b{k} THEN 1 ELSE 0 END)" for k in range(1, N_RANGES)
)

_RANGE_SQL = f"""
WITH hist AS (SELECT n_chars AS n, COUNT(*) AS cnt FROM documents GROUP BY n_chars),
cum AS (
  SELECT n,
         CAST(SUM(cnt) OVER (ORDER BY n
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n_docs
  FROM hist
),
b AS (
  SELECT MAX(n_docs) AS n_total,
         {_RANGE_BOUNDS}
  FROM cum
),
assigned AS (
  SELECT d.n_chars, b.n_total, {_RANGE_PART_ID} AS part_id
  FROM documents d CROSS JOIN b
)
SELECT part_id, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       ({1_000_000} * COUNT(*) * {N_RANGES}) // MAX(n_total) AS balance_e6
FROM assigned GROUP BY part_id ORDER BY part_id
"""


@register(
    "range_partition_stats",
    _RANGE_SQL,
    doc=f"Exact equi-depth range partitioning over n_chars — the "
    "boundary computation behind repartitionByRange / Iceberg sort-"
    f"order writes, evaluated as data: {N_RANGES - 1} type-1 quantile "
    "boundaries (pure bigint ceil-division ranks, bit-exact across "
    "engines — Spark's own RangePartitioner samples and is therefore "
    "non-reproducible) assign every doc a partition, and the output is "
    "the per-partition balance view (row counts, min/max, e6-scaled "
    "occupancy vs the ideal 1/N share) a layout job inspects before "
    "the rewrite: balance_e6 far from 1e6 means a skewed measure needs "
    "finer histogram treatment. Scale shape: the only corpus-sized ops "
    "are one map-side-combined histogram groupBy and one final "
    "stats groupBy; the cumulative window rides HISTOGRAM rows "
    "(cardinality = distinct values, independent of corpus size — the "
    "length_quantiles rule) and the 1-row boundary frame broadcasts "
    "onto the assignment scan.",
    tags=("layout", "stats"),
)
def range_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    hist = d.groupBy(F.col("n_chars").alias("n")).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = W.orderBy("n").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        "n",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("n_docs"),
    )
    bounds = cum.agg(
        F.max("n_docs").alias("n_total"),
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(
                        f"CAST((n_docs * {k} + {N_RANGES - 1}) DIV {N_RANGES} AS BIGINT)"
                    ),
                    F.col("n"),
                )
            ).alias(f"b{k}")
            for k in range(1, N_RANGES)
        ],
    )
    part_id = sum(
        F.when(F.col("n_chars") > F.col(f"b{k}"), 1).otherwise(0)
        for k in range(1, N_RANGES)
    )
    assigned = d.select("n_chars").crossJoin(F.broadcast(bounds)).select(
        "n_chars", "n_total", part_id.alias("part_id")
    )
    return (
        assigned.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.expr(
                f"(1000000 * COUNT(*) * {N_RANGES}) DIV MAX(n_total)"
            ).alias("balance_e6"),
        )
        .orderBy("part_id")
    )
