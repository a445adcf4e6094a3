"""Deduplication operators for training-data pipelines.

The reference's only dedup is page identity ``(id_capitulo, nome,
hash_pagina)`` (reference database/db_util.py:59, Q8); a 100 TB corpus
engine needs the full ladder: exact hash, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design: every per-document sketch (fingerprint, MinHash
signature, SimHash) is computed **map-side** with array higher-order
functions — `array_distinct` -> `transform` -> `array_min`/`aggregate`
— so the only shuffles left are the candidate-pair equi-joins
themselves. Exploding shingles into rows and re-grouping would shuffle
the whole corpus once per sketch; at 100 TB that is the difference
between a scan-bound job and a shuffle-bound one. MinHash uses one
md5 per shingle plus 8 XOR mixes (a standard cheap permutation
family) instead of 8 md5s.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import phash60, phash60_sql, shingles3, shingles_sql, words_col
from ._scale_notes import POSTING_CAP, REPEATED_MIN_DF, SKETCH_BUCKET_CAP

N_PERMS = 8
BAND_SIZE = 4  # => 2 bands

# Per-permutation XOR mixers: 60-bit constants derived from md5 so both
# engines inline the identical literals (computed once here, embedded in
# the SQL text and the Spark plan).
XOR_CONSTS = [
    int(hashlib.md5(f"perm-{p}".encode()).hexdigest()[:15], 16) for p in range(N_PERMS)
]

# DuckDB-side shingle list (list form, not UNNEST -> stays per-row):
# word 3-grams over the portable tokenization.
_SHINGLE_LIST_SQL = (
    "list_transform(generate_series(1, len(ws) - 2),"
    " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"
)
_WS_SQL = (
    "list_filter(string_split(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' '),"
    " x -> x <> '')"
)


def hashed_shingles_from(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, hl: array<long>) — 60-bit hashes of the doc's shingles,
    duplicates preserved; computed entirely map-side over any
    (doc_id, <text_col>) frame (raw documents here; EXTRACTED main
    content in queries/corpus_prep.extracted_minhash_pairs).

    The short-doc filter runs on the cheap token count BEFORE the hash
    projection, and ``hl`` is aliased in its own projection so Catalyst
    keeps it materialized (a non-cheap alias referenced N times is not
    collapsed into its consumers) — the md5 pass runs once, not once
    per downstream min/band expression."""
    hl = F.transform(shingles3(words_col(F.col(text_col))), phash60)
    return (
        d.filter(F.size(words_col(F.col(text_col))) >= 3)
        .select("doc_id", hl.alias("hl"))
    )


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hashed_shingles_from(spread(load_table(spark, sf_dir, "documents")))


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
    FROM documents
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
    doc="Exact dedup by content hash; keeper = min doc_id. The Q8 "
    "hash_pagina identity (reference db_util.py:59) generalized to "
    "hash-groupBy — one shuffle on the hash, map-side combine.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .orderBy("content_hash")
    )


# POSTING_CAP (stop-shingle rule: df > CAP => shingle carries no
# near-dup signal) now lives in queries/_scale_notes.py with the rest
# of the hot-key knobs.


@register(
    "ngram_jaccard_pairs",
    shingles_sql()
    + f"""
    , sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {POSTING_CAP}),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.s NOT IN (SELECT s FROM hot)
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, n_common,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.2
    ORDER BY a_id, b_id
    """,
    doc="Near-dup pairs by word-3-gram Jaccard >= 0.2, via posting lists: "
    "shingle hashes grouped once (one shuffle on the 60-bit hash), pairs "
    "emitted from each sorted posting list, counted per pair. Compared "
    "with a self-join this computes the shingle pipeline ONCE and never "
    "materializes the row-level a x b join; identical to the string "
    "oracle barring a 2^-60 md5-prefix collision. Skew guard: posting "
    f"lists longer than POSTING_CAP={POSTING_CAP} docs are dropped "
    "entirely (the standard stop-shingle rule — a shingle shared by that "
    "many documents carries no near-dup signal, and its quadratic pair "
    "fan-out would otherwise pin one task). The cap is mirrored in the "
    "oracle ('hot' CTE), and intersection counts on BOTH sides exclude "
    "capped shingles while doc sizes still count them. The LSH variant "
    "below is the 100 TB path.",
    tags=("dedup", "join"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.filter(F.size(words_col(F.col("text"))) >= 3).select(
        "doc_id", F.array_distinct(shingles3(words_col(F.col("text")))).alias("arr")
    )
    # Each doc's shingle-set size rides along with every posting-list
    # entry (one long per row) — joining sizes back afterwards would
    # re-run the whole shingle pipeline once per broadcast build.
    sh = base.select(
        "doc_id",
        F.size("arr").alias("n"),
        F.explode(F.transform("arr", phash60)).alias("h"),
    )
    posting = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= POSTING_CAP))
    )
    ds = F.col("ds")
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(
                    x["doc_id"].alias("a_id"),
                    y["doc_id"].alias("b_id"),
                    x["n"].alias("na"),
                    y["n"].alias("nb"),
                ),
            ),
        )
    )
    inter = (
        posting.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.a_id").alias("a_id"),
            F.col("p.b_id").alias("b_id"),
            F.col("p.na").alias("na"),
            F.col("p.nb").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.filter(jac >= 0.2)
        .select("a_id", "b_id", "n_common", F.round(jac, 6).alias("jaccard"))
    )


_XOR_LIST_SQL = "[" + ", ".join(str(c) for c in XOR_CONSTS) + "]"

def minhash_cte_sql(w_source: str) -> str:
    """The shingle->minhash CTE chain over any (doc_id, ws) source —
    shared by the raw-text queries here and the extracted-content
    near-dup in queries/corpus_prep.py."""
    return f"""
    WITH w AS ({w_source}),
    hs AS (
      SELECT doc_id,
             list_transform({_SHINGLE_LIST_SQL}, s -> {phash60_sql('s')}) AS hl
      FROM w WHERE len(ws) >= 3
    ),
    mh AS (
      SELECT doc_id, p AS perm,
             list_min(list_transform(hl, h -> xor(h, {_XOR_LIST_SQL}[p + 1]))) AS minhash
      FROM hs CROSS JOIN UNNEST(generate_series(0, {N_PERMS - 1})) AS t(p)
    )
"""


LSH_PAIRS_TAIL_SQL = f"""
    , sig AS (
      SELECT doc_id, perm // {BAND_SIZE} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
      FROM mh GROUP BY doc_id, perm // {BAND_SIZE}
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ORDER BY a_id, b_id
"""


_MINHASH_CTE = f"""
    WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform({_SHINGLE_LIST_SQL}, s -> {phash60_sql('s')}) AS hl
      FROM w WHERE len(ws) >= 3
    ),
    mh AS (
      SELECT doc_id, p AS perm,
             list_min(list_transform(hl, h -> xor(h, {_XOR_LIST_SQL}[p + 1]))) AS minhash
      FROM hs CROSS JOIN UNNEST(generate_series(0, {N_PERMS - 1})) AS t(p)
    )
"""


def _minhash_cols() -> list[F.Column]:
    """One min-over-XOR-mix per permutation, all map-side."""
    return [
        F.array_min(F.transform("hl", lambda h: h.bitwiseXOR(F.lit(XOR_CONSTS[p]))))
        for p in range(N_PERMS)
    ]


@register(
    "minhash_signatures",
    _MINHASH_CTE
    + """
    SELECT doc_id, perm, minhash FROM mh ORDER BY doc_id, perm
    """,
    doc=f"MinHash signatures ({N_PERMS} permutations) over word-3-gram "
    "shingles. One md5 per shingle + per-perm XOR mixes, min taken "
    "map-side over the shingle array — zero shuffles (the final orderBy "
    "is presentation only). The exploded (doc_id, perm, minhash) shape "
    "is the driver-checkable view of the signature.",
    tags=("dedup", "sketch"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = _hashed_shingles(spark, sf_dir)
    mins = F.array(*_minhash_cols())
    return hs.select("doc_id", F.posexplode(mins).alias("perm", "minhash")).select(
        "doc_id", F.col("perm").cast("long").alias("perm"), "minhash"
    )


@register(
    "minhash_lsh_pairs",
    _MINHASH_CTE
    + f"""
    , sig AS (
      SELECT doc_id, perm // {BAND_SIZE} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
      FROM mh GROUP BY doc_id, perm // {BAND_SIZE}
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ORDER BY a_id, b_id
    """,
    doc="LSH candidate pairs: band the minhash signature "
    f"({N_PERMS // BAND_SIZE} bands x {BAND_SIZE} rows), equi-join on "
    "(band, band_signature). Band signatures are assembled map-side from "
    "the per-doc signature array (no groupBy); the only shuffles are the "
    "band-bucket join and the pair distinct (self-join forced to "
    "sort-merge so the signature subtree executes ONCE via "
    "ReusedExchange instead of once per side). This is how near-dup "
    "scales to 100 TB: the quadratic similarity search becomes a "
    "shuffle on band buckets.",
    tags=("dedup", "sketch", "join"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_band_pairs(_hashed_shingles(spark, sf_dir))


def lsh_band_pairs(hs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs from a hashed-shingle frame — the
    shared engine behind minhash_lsh_pairs (raw text) and
    extracted_minhash_pairs (boilerplate-stripped text)."""
    mins = _minhash_cols()
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        m.cast("string")
                        for m in mins[band * BAND_SIZE : (band + 1) * BAND_SIZE]
                    ],
                ).alias("band_sig"),
            )
            for band in range(N_PERMS // BAND_SIZE)
        ]
    )
    sig = hs.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )
    a = sig.alias("a")
    # merge hint: with a broadcast self-join Spark would EXECUTE the
    # whole signature pipeline twice (once per side); forcing the
    # sort-merge join makes both sides' exchanges identical so the
    # second becomes a ReusedExchange — one corpus scan + one md5 pass,
    # which is the difference between 1 and 2 full scans at 100 TB
    # (and ~20% faster even at sf0.1).
    b = sig.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def _simhash_bits_sql() -> str:
    terms = []
    for b in range(16):
        vote = (
            f"list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1"
            " THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END")
    return " + ".join(terms)


@register(
    "simhash",
    f"""
    WITH w AS (SELECT doc_id, list_distinct({_WS_SQL}) AS toks FROM documents),
    h AS (
      SELECT doc_id, list_transform(toks, t -> {phash60_sql('t')}) AS hs
      FROM w WHERE len(toks) > 0
    )
    SELECT doc_id, CAST({_simhash_bits_sql()} AS BIGINT) AS simhash
    FROM h ORDER BY doc_id
    """,
    doc="16-bit SimHash over distinct word tokens (portable 60-bit hash; "
    "bit b = (h >> b) & 1). Majority vote per bit position, computed "
    "map-side by 16 array aggregates per doc — no explode, no shuffle; "
    "at 100 TB the sketch costs exactly one scan.",
    tags=("dedup", "sketch"),
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.array_distinct(words_col(F.col("text")))
    base = d.filter(F.size(words_col(F.col("text"))) > 0).select(
        "doc_id", F.transform(toks, phash60).alias("hs")
    )
    vote = lambda b: F.aggregate(  # noqa: E731
        "hs",
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )
    sim = sum(
        [F.when(vote(b) > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(16)],
        F.lit(0),
    )
    return base.select("doc_id", sim.cast("long").alias("simhash"))


_LSH_PAIRS_CTE = (
    _MINHASH_CTE
    + f"""
    , sig AS (
      SELECT doc_id, perm // {BAND_SIZE} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
      FROM mh GROUP BY doc_id, perm // {BAND_SIZE}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
"""
)


@register(
    "dedup_clusters",
    "WITH RECURSIVE "
    + _LSH_PAIRS_CTE.strip().removeprefix("WITH ")
    + """
    , edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_keeper
    FROM lab ORDER BY doc_id
    """,
    doc="Near-duplicate CLUSTERS: connected components over the "
    "MinHash-LSH candidate graph, cluster id = lexicographic min doc_id "
    "(the keeper), plus cluster size — the step that turns pairwise "
    "dedup into per-cluster keep/drop decisions. Spark side alternates "
    "LARGE-STAR/SMALL-STAR rounds (the O(log n)-round MapReduce "
    "connected-components construction of Kiveris et al., 'Connected "
    "Components in MapReduce and Beyond', SoCC'14 — public algorithm) "
    "over the candidate-edge set with localCheckpoint between rounds: "
    "a diameter-d chain converges in O(log d) rounds instead of the "
    "O(d) of plain min-label propagation, which is the difference that "
    "matters when an adversarial chain appears at corpus scale. "
    "Oracle: recursive-CTE transitive closure + MIN. At corpus scale "
    "the iteration input is the candidate-pair table, orders of "
    "magnitude smaller than the corpus itself.",
    tags=("dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir)
    labels, _ = connected_components(pairs)
    # cluster_size via groupBy + equi-join back, not a window over
    # cluster_id: a viral boilerplate cluster (millions of members)
    # would pin its whole partition on one window task; the equi-join
    # is map-side combined and AQE-skew-splittable (_scale_notes.py).
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


def connected_components(pairs: DataFrame, max_rounds: int = 64):
    """Connected components of an undirected edge list ``(a_id, b_id)``
    by alternating large-star/small-star; returns
    ``(labels_df(doc_id, cluster_id), n_rounds)`` with cluster_id = the
    component's minimum doc_id. O(log n) rounds; each round is two
    shuffles on the EDGE set (not the corpus) plus ONE O(1)-row
    convergence probe — a (count, xor-of-row-hashes) aggregate; equal
    probes are confirmed exactly (``exceptAll``) once before breaking,
    so a hash collision can cost a round but never wrong labels.
    Lineage truncated via localCheckpoint. Raises ``RuntimeError`` if
    ``max_rounds`` is exhausted before the star-forest fixed point is
    verified — silently returning labels from a non-converged edge set
    would be wrong with no error.

    Large-star: every neighbor v > u is re-pointed at m(u) = min of
    u's closed neighborhood. Small-star: on the larger->smaller
    orientation, every smaller neighbor (and u itself) is pointed at
    the minimum. The fixed point is a star forest rooted at component
    minima."""
    # Checkpoint the candidate pairs ONCE: nodes and the canonical edge
    # set both derive from it, and without this the (expensive) pair
    # subtree — e.g. the full MinHash-LSH build — executes twice, once
    # per eager localCheckpoint below.
    pairs = pairs.select("a_id", "b_id").localCheckpoint()
    # nodes derives from the checkpointed pairs — two-hop lineage, no
    # eager materialization job of its own needed.
    nodes = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # canonical orientation: hi > lo (lexicographic)
    e = (
        pairs.select(
            F.greatest("a_id", "b_id").alias("hi"), F.least("a_id", "b_id").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    def probe(df: DataFrame):
        # count + order-insensitive content hash in ONE action (rows
        # are distinct, so xor over per-row xxhash64 is a set hash).
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("hi", "lo")).alias("hx"),
        ).first()
        return r["n"], r["hx"]

    n_edges, e_hash = probe(e)
    rounds = 0
    converged = n_edges == 0
    while n_edges and rounds < max_rounds:
        rounds += 1
        # ---- large-star over the symmetric view
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # ---- small-star over the larger->smaller orientation
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(mins2.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint()
        )
        ss_n, ss_hash = probe(ss)
        if ss_n == n_edges and ss_hash == e_hash and ss.exceptAll(e).isEmpty():
            e = ss
            converged = True
            break
        e, n_edges, e_hash = ss, ss_n, ss_hash
        if n_edges == 0:
            converged = True  # empty edge set: trivially a fixed point
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds: the edge set is not a verified star forest, so the "
            "labels would be wrong; raise max_rounds (rounds needed is "
            "O(log n_nodes))"
        )
    # star forest -> labels; roots (never a 'hi') label themselves
    lab = e.groupBy(F.col("hi").alias("doc_id")).agg(F.min("lo").alias("cluster_id"))
    labels = lab.unionByName(
        nodes.join(lab, "doc_id", "left_anti").withColumn(
            "cluster_id", F.col("doc_id")
        )
    )
    return labels, rounds


NGRAM_K = 8  # token 8-grams: the substring-repetition unit


@register(
    "repeated_ngram_stats",
    f"""
WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos,
         {phash60_sql("array_to_string(ws[i : i + " + str(NGRAM_K - 1) + "], ' ')")} AS h
  FROM w, UNNEST(generate_series(1, len(ws) - {NGRAM_K - 1})) AS t(i)
  WHERE len(ws) >= {NGRAM_K}
),
gd AS (SELECT h, doc_id, COUNT(*) AS n_pos FROM g GROUP BY 1, 2),
rep AS (SELECT h, COUNT(*) >= 2 AS is_rep FROM gd GROUP BY 1)
SELECT doc_id,
       CAST(SUM(n_pos) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN is_rep THEN n_pos ELSE 0 END) AS BIGINT) AS n_repeated,
       CAST(SUM(CASE WHEN is_rep THEN n_pos ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n_pos) AS DOUBLE) AS repeated_frac
FROM gd JOIN rep USING (h) GROUP BY doc_id ORDER BY doc_id
""",
    doc=f"Substring-level repetition signal (the training-data "
    f"contamination measure of suffix-array dedup, approximated at "
    f"token {NGRAM_K}-gram granularity): per document, how many of its "
    f"token {NGRAM_K}-grams also occur in ANOTHER document. One corpus "
    "scan builds positional gram hashes; the (gram, doc) level is "
    "persisted and gram document-frequency is a real groupBy (map-side "
    "combined) equi-joined back as a (h, is_rep) pair — AQE can "
    "skew-split that exchange, while a window-over-h would pin every "
    "posting of a viral boilerplate gram on one task "
    "(queries/_scale_notes.py). Cross-engine exact: portable 60-bit "
    "gram hashes and a single double division of exact counts.",
    tags=("dedup", "text"),
)
def repeated_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = words_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - NGRAM_K),
        lambda i: phash60(F.concat_ws(" ", F.slice("ws", i + 1, NGRAM_K))),
    )
    g = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= NGRAM_K)
        .select("doc_id", F.explode(grams).alias("h"))
    )
    # persist + groupBy + equi-join back, not a window over h: a viral
    # boilerplate gram would otherwise pin one window partition on a
    # single task (no partial agg, no AQE skew split). Only df >= 2 is
    # consumed, so the join-back payload is the minimal (h, is_rep);
    # the persist keeps the explode from running twice. See
    # queries/_scale_notes.py (REPEATED_MIN_DF).
    gd = g.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("n_pos")).persist()
    rep = gd.groupBy("h").agg((F.count(F.lit(1)) >= REPEATED_MIN_DF).alias("is_rep"))
    gdf = gd.join(rep, "h")
    n_rep = F.sum(F.when(F.col("is_rep"), F.col("n_pos")).otherwise(F.lit(0)))
    return gdf.groupBy("doc_id").agg(
        F.sum("n_pos").alias("n_grams"),
        n_rep.alias("n_repeated"),
        (n_rep.cast("double") / F.sum("n_pos").cast("double")).alias("repeated_frac"),
    )


_SCRUB_SQL = f"""
WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
toks AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS w
  FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)
),
g AS (
  SELECT doc_id, i - 1 AS s,
         {phash60_sql("array_to_string(ws[i : i + " + str(NGRAM_K - 1) + "], ' ')")} AS h
  FROM w, UNNEST(generate_series(1, len(ws) - {NGRAM_K - 1})) AS t(i)
  WHERE len(ws) >= {NGRAM_K}
),
rep AS (
  SELECT h FROM (SELECT h, doc_id FROM g GROUP BY 1, 2)
  GROUP BY h HAVING COUNT(*) >= {REPEATED_MIN_DF}
),
cov AS (
  SELECT DISTINCT g.doc_id, g.s + k AS pos
  FROM g JOIN rep USING (h), UNNEST(generate_series(0, {NGRAM_K - 1})) AS u(k)
),
kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         STRING_AGG(w, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT tot.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
       CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(tot.n_tokens - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot LEFT JOIN reb USING (doc_id) ORDER BY tot.doc_id
"""


@register(
    "repeated_ngram_scrub",
    _SCRUB_SQL,
    doc=f"Substring-dedup REMOVAL (Lee et al. 2021, 'Deduplicating "
    "Training Data Makes Language Models Better', arXiv:2107.06499 — "
    f"approximated at token {NGRAM_K}-gram granularity like "
    "repeated_ngram_stats, which only DETECTS): every token position "
    f"covered by an {NGRAM_K}-gram occurring in >= {REPEATED_MIN_DF} "
    "distinct documents is dropped, and each document's text is "
    "rebuilt from the surviving tokens in order. Output: (doc_id, "
    "clean_text, n_kept, n_dropped) for every document. Scale shape: "
    "positional gram hashes are persisted once (they feed the "
    "document-frequency aggregate AND the coverage explode); the df is "
    "a map-side-combined groupBy joined back as a bare h set (the "
    "_scale_notes rule — a window over h would pin viral boilerplate "
    f"grams on one task); coverage fans out only {NGRAM_K}x the "
    "REPEATED gram rows, never the whole corpus; the kept-token "
    "anti-join and the rebuild groupBy both shuffle on (doc_id) — "
    "bounded per group by the document's own length, the same bound as "
    "reading it. Cross-doc definition (within-doc repeats stay) keeps "
    "the signal aligned with repeated_ngram_stats.",
    tags=("dedup", "text", "pipeline"),
)
def repeated_ngram_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_repeated_ngrams(spread(load_table(spark, sf_dir, "documents")))


def scrub_repeated_ngrams(d: DataFrame) -> DataFrame:
    """Frame-level scrub over any (doc_id, text) frame — the registered
    query above and scripts/submit_curate.py share this body."""
    ws = d.select("doc_id", words_col(F.col("text")).alias("ws"))
    toks = ws.select(
        "doc_id", F.posexplode("ws").alias("pos", "w")
    )
    gramcol = F.transform(
        F.sequence(F.lit(0), F.size("ws") - NGRAM_K),
        lambda i: F.struct(
            i.alias("s"),
            phash60(F.concat_ws(" ", F.slice("ws", i + 1, NGRAM_K))).alias("h"),
        ),
    )
    g = (
        ws.filter(F.size("ws") >= NGRAM_K)
        .select("doc_id", F.explode(gramcol).alias("g"))
        .select("doc_id", "g.s", "g.h")
        .persist()  # feeds the df aggregate AND the coverage explode
    )
    rep = (
        g.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= REPEATED_MIN_DF)
        .select("h")
    )
    cov = (
        g.join(rep, "h")
        .select("doc_id", F.explode(F.sequence("s", F.col("s") + (NGRAM_K - 1))).alias("pos"))
        .distinct()
    )
    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ),
        ).alias("clean_text"),
    )
    tot = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        tot.join(reb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))).alias(
                "n_dropped"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_survivors",
    "WITH RECURSIVE "
    + _LSH_PAIRS_CTE.strip().removeprefix("WITH ")
    + """
    , edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    drops AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING src <> MIN(dst)
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN drops x ON d.doc_id = x.doc_id
    WHERE x.doc_id IS NULL ORDER BY d.doc_id
    """,
    doc="The END of the near-dup ladder: the surviving corpus after "
    "MinHash-LSH candidate generation, connected-component clustering "
    "and keep-min-doc-per-cluster. Spark side: the drop list is only "
    "the non-keeper members of multi-doc clusters — a set orders of "
    "magnitude smaller than the corpus, but still bounded only by the "
    "number of near-duplicate docs, so the final left-anti join carries "
    "no broadcast hint: the planner and AQE broadcast the drop set when "
    "its measured size allows and shuffle it when it does not. "
    "Oracle: recursive-CTE closure, drops = nodes whose min-reachable id is not themselves, "
    "anti-join via LEFT JOIN ... IS NULL.",
    tags=("dedup", "pipeline"),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(spark, sf_dir)
    labels, _ = connected_components(pairs)
    drops = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        d.join(drops, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


_INCREMENTAL_SQL = """
WITH hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
base AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 5 <> 4),
inc AS (SELECT doc_id, content_hash FROM hashed WHERE doc_id % 5 = 4),
fresh AS (
  SELECT i.doc_id, i.content_hash
  FROM inc i LEFT JOIN base b ON i.content_hash = b.content_hash
  WHERE b.content_hash IS NULL
)
SELECT MIN(doc_id) AS doc_id, content_hash, COUNT(*) AS n_dups_in_increment
FROM fresh GROUP BY content_hash ORDER BY doc_id
"""


@register(
    "incremental_dedup",
    _INCREMENTAL_SQL,
    doc="Incremental (cross-snapshot) dedup: documents arriving in a new "
    "crawl increment (modeled as doc_id % 5 = 4, ~20% of the corpus) "
    "survive only if their content hash was never ingested in the base "
    "corpus, electing the first-arriving doc per hash within the "
    "increment. The CCNet/RefinedWeb 'dedup against prior crawls' shape. "
    "Scale path: the base side is pre-aggregated to DISTINCT hashes "
    "(map-side combined, far smaller than raw rows) before a LEFT ANTI "
    "equi-join that AQE can skew-split; in production the base hash set "
    "lives as a bucketed-by-hash table so only the increment shuffles "
    "per ingest, and spark.sql.optimizer.runtime.bloomFilter.enabled "
    "injects a Bloom prefilter into the probe-side scan (Spark's "
    "runtime row-level filtering) without any driver-side sketch.",
    tags=("dedup", "pipeline"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    base_hashes = d.filter(F.col("doc_id") % 5 != 4).select("content_hash").distinct()
    inc = d.filter(F.col("doc_id") % 5 == 4)
    fresh = inc.join(base_hashes, "content_hash", "left_anti")
    return (
        fresh.groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups_in_increment"),
        )
        .select("doc_id", "content_hash", "n_dups_in_increment")
        .orderBy("doc_id")
    )


PR_ITERS = 2
PR_TOP = 20

_PR_SQL = (
    _MINHASH_CTE
    + f"""
    , sig AS (
      SELECT doc_id, perm // {BAND_SIZE} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
      FROM mh GROUP BY doc_id, perm // {BAND_SIZE}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS pr FROM deg),
    c1 AS (
      SELECT e.dst AS node, CAST(SUM(r.pr // r.deg) AS BIGINT) AS s
      FROM edges e JOIN r0 r ON e.src = r.node GROUP BY e.dst
    ),
    r1 AS (
      SELECT d.node, d.deg,
             CAST(150000 + (850 * COALESCE(c1.s, 0)) // 1000 AS BIGINT) AS pr
      FROM deg d LEFT JOIN c1 USING (node)
    ),
    c2 AS (
      SELECT e.dst AS node, CAST(SUM(r.pr // r.deg) AS BIGINT) AS s
      FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst
    ),
    r2 AS (
      SELECT d.node, d.deg,
             CAST(150000 + (850 * COALESCE(c2.s, 0)) // 1000 AS BIGINT) AS pr
      FROM deg d LEFT JOIN c2 USING (node)
    )
    SELECT node, deg, pr FROM r2 ORDER BY pr DESC, node LIMIT {PR_TOP}
    """
)


@register(
    "near_dup_pagerank",
    _PR_SQL,
    doc=f"INTEGER PageRank ({PR_ITERS} unrolled iterations, damping "
    "0.85) over the undirected LSH candidate graph — ranks the most "
    "'connected' documents in near-dup neighborhoods (the triage view "
    "for template farms and mirror clusters, where dedup_clusters only "
    "says WHICH docs cluster). Determinism: ranks live in e6-scaled "
    "BIGINTs; each contribution is pr DIV deg and each update is "
    "150000 + (850 * sum) DIV 1000 — pure integer floor arithmetic, "
    "identical in both engines, no float ever (a double PageRank's sum "
    "order would drift with partitioning). Dangling mass: none (every "
    "node in an undirected edge set has deg >= 1); per-node "
    "contribution sums are bounded by deg_max * 1e6, so 850x fits "
    "BIGINT for any real graph. Scale shape: per iteration one "
    "edges-ranks equi-join + one map-side-combined groupBy on dst "
    "(both AQE-skew-splittable; a hot node is a hot JOIN key, never a "
    "window pin); the rank frame is localCheckpoint'ed per round so "
    "plans stay linear in iterations (same discipline as "
    "connected_components).",
    tags=("dedup", "graph", "iterative"),
)
def near_dup_pagerank(spark: SparkSession, sf_dir: str, iters: int = PR_ITERS) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    edges = edges.localCheckpoint()  # LSH subtree executes once, not once per round
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("node", "deg", F.lit(1000000).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"), F.expr("pr DIV deg").alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .select(
                "node",
                "deg",
                (F.lit(150000) + F.expr("(850 * coalesce(s, CAST(0 AS BIGINT))) DIV 1000"))
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks.orderBy(F.desc("pr"), "node").limit(PR_TOP).select("node", "deg", "pr")


_ACC_SQL = (
    _MINHASH_CTE
    + f"""
    , sig AS (
      SELECT doc_id, perm // {BAND_SIZE} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
      FROM mh GROUP BY doc_id, perm // {BAND_SIZE}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sigs AS (SELECT doc_id, LIST(minhash ORDER BY perm) AS s FROM mh GROUP BY doc_id),
    sets AS (SELECT doc_id, list_distinct(hl) AS sh FROM hs),
    j AS (
      SELECT p.a_id, p.b_id,
             CAST(len(list_filter(range({N_PERMS}),
                                  i -> sa.s[i + 1] = sb.s[i + 1])) AS BIGINT) AS n_match,
             CAST(len(list_intersect(ta.sh, tb.sh)) AS BIGINT) AS n_inter,
             CAST(len(ta.sh) + len(tb.sh) AS BIGINT) AS n_sum
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.a_id
      JOIN sigs sb ON sb.doc_id = p.b_id
      JOIN sets ta ON ta.doc_id = p.a_id
      JOIN sets tb ON tb.doc_id = p.b_id
    )
    SELECT a_id, b_id, n_match,
           ROUND(n_match * 1.0 / {N_PERMS}, 6) AS est_jaccard,
           ROUND(n_inter * 1.0 / (n_sum - n_inter), 6) AS true_jaccard,
           CAST(ROUND((ROUND(n_match * 1.0 / {N_PERMS}, 6)
                       - ROUND(n_inter * 1.0 / (n_sum - n_inter), 6)) * 1000000, 0)
                AS BIGINT) AS err_e6
    FROM j ORDER BY a_id, b_id
    """
)


@register(
    "minhash_jaccard_accuracy",
    _ACC_SQL,
    doc="Sketch CALIBRATION report: for every LSH candidate pair, the "
    f"MinHash similarity estimate (matching signature positions / "
    f"{N_PERMS}) next to the TRUE distinct-shingle Jaccard and the "
    "signed error in e6 units — the quality-control view that tells a "
    "pipeline operator whether the configured permutation count is "
    "adequate before trusting the dedup ladder at full scale. Both "
    "numbers are one double division of exact integers (bit-stable); "
    "the comparison runs ONLY on candidate pairs, so the cost is "
    "O(|candidates|) with broadcast-free equi-joins on doc_id — the "
    "full-corpus version of this audit is exactly what you sample, and "
    "the operator parameterizes to a sampled pair set unchanged.",
    tags=("dedup", "sketch", "stats"),
)
def minhash_jaccard_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = _hashed_shingles(spark, sf_dir)
    base = hs.select(
        "doc_id",
        F.array(*_minhash_cols()).alias("s"),
        F.array_distinct("hl").alias("sh"),
    )
    pairs = lsh_band_pairs(hs).select("a_id", "b_id")
    a = base.select(
        F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"), F.col("sh").alias("a_sh")
    )
    b = base.select(
        F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"), F.col("sh").alias("b_sh")
    )
    j = pairs.join(a, "a_id").join(b, "b_id")
    n_match = F.size(
        F.filter(F.zip_with("a_s", "b_s", lambda x, y: x == y), lambda v: v)
    ).cast("long")
    n_inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("long")
    n_sum = (F.size("a_sh") + F.size("b_sh")).cast("long")
    est = F.round(F.col("n_match") * F.lit(1.0) / F.lit(N_PERMS), 6)
    true = F.round(F.col("n_inter") * F.lit(1.0) / (F.col("n_sum") - F.col("n_inter")), 6)
    return (
        j.select(
            "a_id",
            "b_id",
            n_match.alias("n_match"),
            n_inter.alias("n_inter"),
            n_sum.alias("n_sum"),
        )
        .select(
            "a_id",
            "b_id",
            "n_match",
            est.alias("est_jaccard"),
            true.alias("true_jaccard"),
            F.round((est - true) * 1000000, 0).cast("long").alias("err_e6"),
        )
        .orderBy("a_id", "b_id")
    )


_FUNNEL_LADDER_SQL = (
    "WITH RECURSIVE "
    + _LSH_PAIRS_CTE.strip().removeprefix("WITH ")
    + """
    , edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    drops AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING src <> MIN(dst)
    ),
    hashed AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
    keep_exact AS (SELECT h, MIN(doc_id) AS keeper FROM hashed GROUP BY h),
    flags AS (
      SELECT d.doc_id, d.lang,
             (d.doc_id = k.keeper) AS is_exact_keeper,
             (x.doc_id IS NULL) AS survives_neardup
      FROM hashed d JOIN keep_exact k ON d.h = k.h
      LEFT JOIN drops x ON d.doc_id = x.doc_id
    )
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN is_exact_keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_keepers,
           CAST(SUM(CASE WHEN is_exact_keeper AND survives_neardup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_survivors
    FROM flags GROUP BY lang ORDER BY lang
    """
)


@register(
    "dedup_ladder_funnel",
    _FUNNEL_LADDER_SQL,
    doc="The DEDUP ladder as a funnel, per language: total docs -> "
    "exact-dedup keepers (min doc_id per content hash) -> keepers that "
    "also survive near-dup clustering (MinHash-LSH candidates -> "
    "connected components -> keep-min-per-cluster). corpus_funnel "
    "reports quality+exact; this is the dedup-side triage view a "
    "curation run reads to see WHERE each language's corpus shrinks "
    "before committing to the full rewrite. Scale shape: one corpus "
    "scan persisted (it feeds the keeper election AND the flag join); "
    "keeper election is groupBy + equi-join back (never a window over "
    "the hash); the near-dup drop set — bounded only by the number of "
    "near-duplicate docs — joins with no broadcast hint (the planner "
    "and AQE pick the strategy from its size); the rollup is a 5-row "
    "map-side-combined groupBy. Oracle: recursive-CTE closure over the "
    "same LSH CTE.",
    tags=("dedup", "pipeline"),
)
def dedup_ladder_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("h"))
        .persist()  # feeds the keeper election AND the flag join
    )
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    labels, _ = connected_components(minhash_lsh_pairs(spark, sf_dir))
    drops = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.lit(True).alias("_dropped")
    )
    flags = (
        d.join(keep, "h")
        .join(drops, "doc_id", "left")
        .select(
            "lang",
            (F.col("doc_id") == F.col("keeper")).alias("is_exact_keeper"),
            F.col("_dropped").isNull().alias("survives_neardup"),
        )
    )
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("is_exact_keeper"), 1).otherwise(0)).alias(
                "n_exact_keepers"
            ),
            F.sum(
                F.when(
                    F.col("is_exact_keeper") & F.col("survives_neardup"), 1
                ).otherwise(0)
            ).alias("n_neardup_survivors"),
        )
        .orderBy("lang")
    )


# -- SimHash hamming-distance pair generation ------------------------------

SIMHASH_WIDE_BITS = 48
SIMHASH_HAM_MAX = 3  # pairs at hamming distance <= 3
SIMHASH_N_BANDS = SIMHASH_HAM_MAX + 1  # pigeonhole: >= 1 band matches exactly
SIMHASH_BAND_BITS = SIMHASH_WIDE_BITS // SIMHASH_N_BANDS  # 12
SIMHASH_BAND_CAP = SKETCH_BUCKET_CAP  # stop-bucket rule, mirrored in the oracle (_scale_notes)


def _simhash_wide_bits_sql() -> str:
    terms = []
    for b in range(SIMHASH_WIDE_BITS):
        vote = (
            f"list_sum(list_transform(hs, x -> CASE WHEN (x >> {b}) & 1 = 1"
            " THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END")
    return " + ".join(terms)


_SIMHASH_PAIRS_SQL = f"""
WITH w AS (SELECT doc_id, list_distinct({_WS_SQL}) AS toks FROM documents),
h AS (
  SELECT doc_id, list_transform(toks, t -> {phash60_sql('t')}) AS hs
  FROM w WHERE len(toks) > 0
),
sig AS (SELECT doc_id, CAST({_simhash_wide_bits_sql()} AS BIGINT) AS sh FROM h),
bands AS (
  SELECT doc_id, sh, k AS band,
         (sh >> CAST({SIMHASH_BAND_BITS} * k AS INTEGER)) & {(1 << SIMHASH_BAND_BITS) - 1} AS bval
  FROM sig, UNNEST(generate_series(0, {SIMHASH_N_BANDS - 1})) AS t(k)
),
hot AS (
  SELECT band, bval FROM bands GROUP BY band, bval
  HAVING COUNT(*) > {SIMHASH_BAND_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS a_sh, b.sh AS b_sh
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM hot x WHERE x.band = a.band AND x.bval = a.bval)
)
SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(a_sh, b_sh)) <= {SIMHASH_HAM_MAX}
ORDER BY a_id, b_id
"""


@register(
    "simhash_hamming_pairs",
    _SIMHASH_PAIRS_SQL,
    doc=f"SimHash near-dup PAIR generation (Manku, Jain, Das Sarma, "
    "WWW'07 — the web-crawl dedup construction): a {0}-bit SimHash per "
    "doc (computed map-side by {0} vote aggregates, one corpus scan, "
    "no shuffle), split into {1} bands of {2} bits. By pigeonhole, any "
    "pair at hamming distance <= {3} agrees EXACTLY on at least one "
    "band, so candidates come from {1} equi-joins on (band, value) — "
    "the same banded-LSH shuffle shape as MinHash, AQE-skew-splittable "
    "— and the exact popcount filter keeps only true <= {3} pairs. "
    "Boilerplate guard: band buckets holding more than "
    f"{SIMHASH_BAND_CAP} docs are dropped before pairing (the "
    "stop-shingle rule transplanted to sketch space, mirrored in the "
    "oracle), bounding the quadratic fan-out of a viral sketch value. "
    "The registered 16-bit `simhash` stays the compact fingerprint; "
    "this wide variant exists because banding 16 bits into 4-bit "
    "bands would collide half the corpus per bucket.".format(
        SIMHASH_WIDE_BITS, SIMHASH_N_BANDS, SIMHASH_BAND_BITS, SIMHASH_HAM_MAX
    ),
    tags=("dedup", "sketch", "join"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.array_distinct(words_col(F.col("text")))
    base = d.filter(F.size(words_col(F.col("text"))) > 0).select(
        "doc_id", F.transform(toks, phash60).alias("hs")
    )
    vote = lambda b: F.aggregate(  # noqa: E731
        "hs",
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )
    sim = sum(
        [
            F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(SIMHASH_WIDE_BITS)
        ],
        F.lit(0).cast("long"),
    )
    sig = base.select("doc_id", sim.alias("sh"))
    # band values via a single select (shiftright with literal bits)
    band_rows = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("sh"), SIMHASH_BAND_BITS * k)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("bval"),
                    )
                    for k in range(SIMHASH_N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.band", "b.bval")
    band_rows = band_rows.persist()  # feeds the cap aggregate AND both join sides
    ok = (
        band_rows.groupBy("band", "bval")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= SIMHASH_BAND_CAP)
        .select("band", "bval")
    )
    capped = band_rows.join(ok, ["band", "bval"])
    a = capped.select(
        "band", "bval", F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")
    )
    b = capped.select(
        "band", "bval", F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")
    )
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sh", "b_sh")
        .distinct()
    )
    ham = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("long")
    return (
        cand.select("a_id", "b_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .orderBy("a_id", "b_id")
    )


# -- triangle counting over the near-dup graph ----------------------------

_TRI_SQL = (
    _LSH_PAIRS_CTE
    + """
    , deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a_id AS node FROM pairs
        UNION ALL
        SELECT b_id AS node FROM pairs
      ) GROUP BY node
    ),
    oe AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a_id < p.b_id)
                  THEN p.a_id ELSE p.b_id END AS src,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a_id < p.b_id)
                  THEN p.b_id ELSE p.a_id END AS dst
      FROM pairs p
      JOIN deg da ON da.node = p.a_id
      JOIN deg db ON db.node = p.b_id
    ),
    tri AS (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM oe e1
      JOIN oe e2 ON e2.src = e1.dst
      JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    members AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM members GROUP BY node ORDER BY node
    """
)


@register(
    "near_dup_triangles",
    _TRI_SQL,
    doc="Per-node triangle counts over the undirected LSH candidate "
    "graph — the local-clustering signal that separates genuine "
    "mirror/template FARMS (dense, triangle-rich neighborhoods) from "
    "chance banding collisions (isolated edges, no triangles), the "
    "standard triage companion to near_dup_pagerank. Algorithm: "
    "degree-ordered edge orientation (Suri & Vassilvitskii, WWW'11 "
    "MapReduce triangle counting): each undirected edge is oriented "
    "from its lower-(degree, id) endpoint to the higher one, which "
    "bounds every node's OUT-degree by O(sqrt(m)); wedges come from "
    "one oriented-edge self-equi-join (e1.dst = e2.src) and are "
    "confirmed by a two-key LEFT SEMI join back to the oriented edge "
    "set, so each triangle is found exactly once (u<v<w in the "
    "degree order). Scale shape: every step is an equi-join or a "
    "map-side-combined groupBy (AQE-skew-splittable; no windows, no "
    "driver collect); the orientation step is WHY this survives a "
    "power-law graph at 100 TB — without it the wedge join explodes "
    "on hub nodes (deg^2 wedges per hub). The LSH subtree is "
    "localCheckpoint'ed once and the oriented edge set once more, so "
    "the signature pipeline runs once, not once per self-join side.",
    tags=("dedup", "graph", "join"),
)
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id").localCheckpoint()
    )
    deg = (
        pairs.select(F.col("a_id").alias("node"))
        .unionByName(pairs.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a_id"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b_id"), F.col("deg").alias("db"))
    p = pairs.join(da, "a_id").join(db, "b_id")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a_id") < F.col("b_id"))
    )
    oe = p.select(
        F.when(fwd, F.col("a_id")).otherwise(F.col("b_id")).alias("src"),
        F.when(fwd, F.col("b_id")).otherwise(F.col("a_id")).alias("dst"),
    ).localCheckpoint()
    e2 = oe.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        oe.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(e2, "v")
        .select("u", "v", "w")
    )
    closing = oe.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["u", "w"], "left_semi")
    members = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return (
        members.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("node")
    )


# --- exact Jaccard threshold join via prefix filtering (PPJoin-lite) -------

PREFIX_JOIN_T_NUM, PREFIX_JOIN_T_DEN = 1, 2  # threshold t = 1/2, exact rational

_PREFIX_JOIN_SQL = f"""
WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
s AS (
  SELECT doc_id, list_distinct({_SHINGLE_LIST_SQL}) AS toks
  FROM w WHERE len(ws) >= 3
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(a.toks) AS BIGINT) AS na,
         CAST(len(b.toks) AS BIGINT) AS nb,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, n_common,
       ROUND(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
FROM pairs
WHERE 3 * n_common >= na + nb
ORDER BY a_id, b_id
"""


@register(
    "jaccard_prefix_join",
    _PREFIX_JOIN_SQL,
    doc="EXACT Jaccard-threshold similarity self-join (J >= 1/2 on "
    "distinct word-3-gram shingle sets) via prefix filtering "
    "(Chaudhuri ICDE'06 / Xiao et al. WWW'08 PPJoin family). Unlike "
    "ngram_jaccard_pairs (posting lists with a stop-shingle recall "
    "cap) and the MinHash ladder (probabilistic), the prefix filter is "
    "a LOSSLESS pruning: under any global token order, two sets with "
    "J >= t MUST share a token in their first n - ceil(t*n) + 1 "
    "tokens, so recall is 1.0 by construction and the oracle is plain "
    "brute-force all-pairs — equality of outputs proves the filter. "
    "Order = (global shingle df asc, shingle asc): rarest-first "
    "minimizes candidate fan-out. The threshold test is exact integer "
    "cross-multiplication (3c >= na+nb <=> J >= 1/2); jaccard is one "
    "double division rounded 6dp at output. Scale: df via one "
    "map-side-combined groupBy on the persisted shingle rows (the "
    "_scale_notes.py pattern — never broadcast, the shingle vocabulary "
    "is corpus-sized); per-doc prefix = array_sort + slice, map-side; "
    "candidates = a prefix-token equi-join AQE can skew-split (a hot "
    "prefix token means a genuinely frequent rare-est token — the "
    "filter already minimizes this by construction); verification "
    "joins the two sorted shingle arrays back by id and intersects "
    "per pair — each pair costs only its own rows.",
    tags=("dedup", "text", "similarity-join"),
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_num, t_den = PREFIX_JOIN_T_NUM, PREFIX_JOIN_T_DEN
    d = spread(load_table(spark, sf_dir, "documents"))
    base = (
        d.filter(F.size(words_col(F.col("text"))) >= 3)
        .select(
            "doc_id",
            F.array_distinct(shingles3(words_col(F.col("text")))).alias("toks"),
        )
        .withColumn("n", F.size("toks").cast("long"))
        .persist()  # scanned by df, by the prefix build, and twice by verify
    )
    tok_rows = base.select("doc_id", "n", F.explode("toks").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Per-doc global order (df asc, tok asc); prefix length
    # p = n - ceil(t*n) + 1, with ceil(t*n) = (t_num*n + t_den - 1) div
    # t_den — exact integer arithmetic on positives (Spark's div
    # truncates toward zero, which equals floor only for positives).
    ordered = (
        tok_rows.join(dfreq, "tok")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("od"))
        .select(
            "doc_id",
            "n",
            F.expr(
                f"slice(transform(od, x -> x.tok), 1, "
                f"cast(n - (({t_num}L * n + {t_den - 1}L) div {t_den}L) + 1 as int))"
            ).alias("prefix"),
        )
    )
    pre = ordered.select(
        F.col("doc_id"), F.col("n"), F.explode("prefix").alias("tok")
    )
    a = pre.select(
        F.col("doc_id").alias("a_id"), F.col("n").alias("na"), "tok"
    )
    b = pre.select(
        F.col("doc_id").alias("b_id"), F.col("n").alias("nb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("a_id") < F.col("b_id"))
        # lossless size filter: t*na <= nb and t*nb <= na (cross-mult)
        .filter(
            (F.lit(t_num) * F.col("na") <= F.lit(t_den) * F.col("nb"))
            & (F.lit(t_num) * F.col("nb") <= F.lit(t_den) * F.col("na"))
        )
        .select("a_id", "b_id", "na", "nb")
        .distinct()
    )
    av = base.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    bv = base.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    verified = (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("a_toks", "b_toks")).cast("long")
        )
        .filter(F.lit(3) * F.col("n_common") >= F.col("na") + F.col("nb"))
    )
    jac = F.col("n_common") * F.lit(1.0) / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return verified.select(
        "a_id", "b_id", "n_common", F.round(jac, 6).alias("jaccard")
    ).orderBy("a_id", "b_id")


# -- maximal cross-document verbatim spans -----------------------------------

_SUBSTRING_SPANS_SQL = f"""
WITH w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
g AS (
  SELECT doc_id, i - 1 AS s,
         {phash60_sql("array_to_string(ws[i : i + " + str(NGRAM_K - 1) + "], ' ')")} AS h
  FROM w, UNNEST(generate_series(1, len(ws) - {NGRAM_K - 1})) AS t(i)
  WHERE len(ws) >= {NGRAM_K}
),
gd AS (SELECT h, doc_id FROM g GROUP BY 1, 2),
rep AS (SELECT h FROM gd GROUP BY 1 HAVING COUNT(*) >= {REPEATED_MIN_DF}),
st AS (
  SELECT g.doc_id, g.s,
         LAG(g.s) OVER (PARTITION BY g.doc_id ORDER BY g.s) AS prev
  FROM g JOIN rep USING (h)
),
isl AS (
  SELECT doc_id, s,
         SUM(CASE WHEN s - prev > {NGRAM_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
  FROM st
)
SELECT doc_id,
       CAST(MIN(s) AS BIGINT) AS span_start,
       CAST(MAX(s) + {NGRAM_K} AS BIGINT) AS span_end,
       CAST(MAX(s) + {NGRAM_K} - MIN(s) AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


@register(
    "exact_substring_spans",
    _SUBSTRING_SPANS_SQL,
    doc=f"Maximal cross-document verbatim spans (the ExactSubstr "
    "operator of Lee et al. 2021, arXiv:2107.06499, at token "
    f"{NGRAM_K}-gram granularity instead of a suffix array): for each "
    "document, the maximal token ranges covered by "
    f"{NGRAM_K}-grams that also occur in another document — the spans "
    "a substring-dedup pass would cut, where repeated_ngram_stats "
    "only counts and repeated_ngram_scrub rebuilds text. Adjacent/"
    "overlapping duplicated grams coalesce gaps-and-islands style: a "
    f"new span starts when the next duplicated start exceeds the "
    f"previous by more than {NGRAM_K} (equal-length intervals make "
    "max-coverage monotone, so the lag test is exact interval union). "
    "Scale: gram document-frequency is the same persisted "
    "groupBy + equi-join-back as repeated_ngram_stats (never a window "
    "over h — a viral gram would pin one task); the ONLY windows "
    "partition by doc_id, bounded by a single document's length — the "
    "one window class _scale_notes.py permits. Cross-engine exact: "
    "integer positions, portable 60-bit gram hashes, no floats at all.",
    tags=("dedup", "text"),
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    ws = words_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - NGRAM_K),
        lambda i: phash60(F.concat_ws(" ", F.slice("ws", i + 1, NGRAM_K))),
    )
    g = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= NGRAM_K)
        .select("doc_id", F.posexplode(grams).alias("s", "h"))
        .persist()
    )
    rep = (
        g.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= REPEATED_MIN_DF)
        .select("h")
    )
    st = g.join(rep, "h").select("doc_id", "s")
    wd = W.partitionBy("doc_id").orderBy("s")
    brk = F.when(F.col("s") - F.lag("s").over(wd) > NGRAM_K, 1).otherwise(0)
    isl = st.withColumn(
        "island",
        F.sum(brk).over(wd.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            (F.max("s") + NGRAM_K).cast("long").alias("span_end"),
            (F.max("s") + NGRAM_K - F.min("s")).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )
