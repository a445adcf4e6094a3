"""Two-table MinHash similarity JOIN — round-4 verdict item 8.

Self-join dedup (``dedup.minhash_lsh_pairs``) answers "which documents
in THIS corpus duplicate each other"; a production curation stack also
needs the two-table form: join a QUERY corpus (a new crawl snapshot, a
candidate eval set, a partner drop) against a BASE corpus by set
similarity — the datasketch ``MinHashLSH.query`` API expressed as one
distributed join instead of a driver loop.

No second table exists in the fixture set, so the two corpora are a
deterministic hash split of ``documents`` (~20% query / ~80% base via
a salted 60-bit hash of doc_id, mirrored in every oracle). The split
is the harness; the operator itself takes any two (doc_id, text)
frames via :func:`minhash_join_frames`.

Scale shape (the band-cap playbook from queries/_scale_notes.py,
applied as the round-4 verdict prescribed):

- ONE persisted signature pass over the union frame — signatures are
  never recomputed per side or per query (the round-2 broadcast-build
  lesson);
- candidates come from a (band, band_sig) equi-join between the two
  sides — the banded-LSH shuffle shape AQE can skew-split;
- band buckets holding more than SKETCH_BUCKET_CAP docs are dropped
  BEFORE pairing (stop-bucket rule, mirrored in the oracles) so a
  viral boilerplate family cannot mint O(|Q|x|B|) candidates;
- the pair subtree carries only (q_id, b_id); signatures / shingle
  sets are enriched back via plain equi-joins on doc_id (AQE), never
  a forced broadcast of a data-dependent intermediate (the
  broadcast boundedness rule in queries/_scale_notes.py);
- best-match is a groupBy max(struct) — a real aggregate with
  map-side partials — not a rank window over candidates.

Reference parity: the reference has no two-table similarity join; the
closest surface is its exact hash lookup (db_util.py:59 Q8). This
family generalizes that identity join to Jaccard space, reusing the
shingle/minhash/band machinery of queries/dedup.py (Broder'97
resemblance sketches; Leskovec-Rajaraman-Ullman ch.3 banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import phash60, phash60_sql
from ._scale_notes import SKETCH_BUCKET_CAP
from .dedup import (
    _SHINGLE_LIST_SQL,
    _WS_SQL,
    _XOR_LIST_SQL,
    BAND_SIZE,
    N_PERMS,
    _minhash_cols,
    hashed_shingles_from,
)

N_BANDS = N_PERMS // BAND_SIZE

# ~20% of docs land on the query side; salt keeps the split independent
# of every other doc_id-hash assignment in the repo (pack buckets,
# train/val split, cosine blocks).
_SIDE_MOD = 5
_SIDE_HASH_SQL = phash60_sql("CAST(doc_id AS VARCHAR) || '-side'")
_SIDE_SQL = (
    f"CASE WHEN {_SIDE_HASH_SQL} % {_SIDE_MOD} = 0 THEN 'query' ELSE 'base' END"
)


def _side_col() -> F.Column:
    h = phash60(F.concat(F.col("doc_id").cast("string"), F.lit("-side")))
    return F.when(h % _SIDE_MOD == 0, F.lit("query")).otherwise(F.lit("base"))


# Shared oracle CTE chain: split -> shingle-hash -> minhash -> bands ->
# capped cross-side candidates + full signatures.
_JOIN_CTE = f"""
WITH d AS (
  SELECT doc_id, text, {_SIDE_SQL} AS side FROM documents
),
w AS (SELECT doc_id, side, {_WS_SQL} AS ws FROM d),
hs AS (
  SELECT doc_id, side,
         list_transform({_SHINGLE_LIST_SQL}, s -> {phash60_sql('s')}) AS hl
  FROM w WHERE len(ws) >= 3
),
mh AS (
  SELECT doc_id, side, p AS perm,
         list_min(list_transform(hl, h -> xor(h, {_XOR_LIST_SQL}[p + 1]))) AS minhash
  FROM hs CROSS JOIN UNNEST(generate_series(0, {N_PERMS - 1})) AS t(p)
),
sig AS (
  SELECT doc_id, side, perm // {BAND_SIZE} AS band,
         STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS band_sig
  FROM mh GROUP BY doc_id, side, perm // {BAND_SIZE}
),
hot AS (
  SELECT band, band_sig FROM sig
  GROUP BY band, band_sig HAVING COUNT(*) > {SKETCH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT q.doc_id AS q_id, b.doc_id AS b_id
  FROM sig q JOIN sig b ON q.band = b.band AND q.band_sig = b.band_sig
  WHERE q.side = 'query' AND b.side = 'base'
    AND NOT EXISTS (SELECT 1 FROM hot x
                    WHERE x.band = q.band AND x.band_sig = q.band_sig)
),
sigfull AS (
  SELECT doc_id, list(minhash ORDER BY perm) AS mhs FROM mh GROUP BY doc_id
),
scored AS (
  SELECT c.q_id, c.b_id,
         CAST(len(list_filter(generate_series(1, {N_PERMS}),
                              i -> sq.mhs[i] = sb.mhs[i])) AS BIGINT) AS n_match
  FROM cand c
  JOIN sigfull sq ON sq.doc_id = c.q_id
  JOIN sigfull sb ON sb.doc_id = c.b_id
)
"""


def _signed_frames(spark: SparkSession, sf_dir: str):
    """(band_rows, sig_full, hs_sets) for the fixture split — band_rows
    persisted because it feeds the cap aggregate AND both join sides."""
    d = spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    return _signed_frames_from(d.withColumn("side", _side_col()))


def _signed_frames_from(d: DataFrame):
    """The reusable engine over any (doc_id, text, side) frame."""
    hs = hashed_shingles_from(d.select("doc_id", "text")).join(
        d.select("doc_id", "side"), "doc_id"
    )
    mins = _minhash_cols()
    with_sig = hs.select(
        "doc_id",
        "side",
        F.array_distinct("hl").alias("hset"),
        F.array(*mins).alias("mhs"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col("mhs")[band * BAND_SIZE + i].cast("string")
                        for i in range(BAND_SIZE)
                    ],
                ).alias("band_sig"),
            )
            for band in range(N_BANDS)
        ]
    )
    full = with_sig.persist()  # one signature pass for everything below
    band_rows = full.select(
        "doc_id", "side", F.explode(bands).alias("b")
    ).select("doc_id", "side", "b.band", "b.band_sig")
    return band_rows, full.select("doc_id", "mhs"), full.select("doc_id", "hset")


def _candidates(band_rows: DataFrame) -> DataFrame:
    """Capped cross-side candidate ids — (q_id, b_id), distinct."""
    ok = (
        band_rows.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= SKETCH_BUCKET_CAP)
        .select("band", "band_sig")
    )
    capped = band_rows.join(ok, ["band", "band_sig"])
    q = capped.filter(F.col("side") == "query").select(
        "band", "band_sig", F.col("doc_id").alias("q_id")
    )
    b = capped.filter(F.col("side") == "base").select(
        "band", "band_sig", F.col("doc_id").alias("b_id")
    )
    return q.join(b, ["band", "band_sig"]).select("q_id", "b_id").distinct()


def _scored(band_rows: DataFrame, sig_full: DataFrame) -> DataFrame:
    """Candidates + n_match (count of agreeing minhash permutations)."""
    cand = _candidates(band_rows)
    sq = sig_full.select(F.col("doc_id").alias("q_id"), F.col("mhs").alias("q_mhs"))
    sb = sig_full.select(F.col("doc_id").alias("b_id"), F.col("mhs").alias("b_mhs"))
    n_match = F.aggregate(
        F.zip_with("q_mhs", "b_mhs", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")
    return (
        cand.join(sq, "q_id")
        .join(sb, "b_id")
        .select("q_id", "b_id", n_match.alias("n_match"))
    )


@register(
    "minhash_join",
    _JOIN_CTE
    + f"""
SELECT q_id, b_id, n_match,
       CAST(n_match AS DOUBLE) / {N_PERMS} AS est_jaccard
FROM scored ORDER BY q_id, b_id
""",
    doc="Two-table MinHash similarity JOIN (datasketch-style LSH query "
    "as one distributed join): every query-side doc paired with the "
    "base-side docs whose banded minhash signatures collide, scored by "
    f"estimated Jaccard = agreeing permutations / {N_PERMS}. The two "
    "corpora are a deterministic ~20/80 salted-hash split of documents "
    "(mirrored in the oracle); the operator itself takes any two "
    "corpora. One persisted signature pass, banded equi-join for "
    f"candidates with the SKETCH_BUCKET_CAP={SKETCH_BUCKET_CAP} "
    "stop-bucket rule, id-only pair subtree enriched back by plain "
    "AQE equi-joins — the playbook shape end to end.",
    tags=("dedup", "sketch", "join"),
)
def minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_rows, sig_full, _ = _signed_frames(spark, sf_dir)
    est = (F.col("n_match").cast("double") / N_PERMS).alias("est_jaccard")
    return (
        _scored(band_rows, sig_full)
        .select("q_id", "b_id", "n_match", est)
        .orderBy("q_id", "b_id")
    )


@register(
    "minhash_join_best_match",
    _JOIN_CTE
    + f"""
SELECT q_id, b_id, n_match,
       CAST(n_match AS DOUBLE) / {N_PERMS} AS est_jaccard
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_match DESC, b_id) = 1
ORDER BY q_id
""",
    doc="Best base-corpus match per query doc (the datasketch "
    "`query(...)[0]` shape): argmax estimated Jaccard, ties to the "
    "smaller base id. Computed as groupBy(q_id).max(struct(n_match, "
    "-b_id)) — a true aggregate with map-side partials, NOT a rank "
    "window over the candidate set (the _scale_notes window rule); "
    "the oracle's QUALIFY window is the SQL-idiomatic twin.",
    tags=("dedup", "sketch", "join"),
)
def minhash_join_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_rows, sig_full, _ = _signed_frames(spark, sf_dir)
    scored = _scored(band_rows, sig_full)
    best = scored.groupBy("q_id").agg(
        F.max(F.struct(F.col("n_match"), (-F.col("b_id")).alias("neg_b"))).alias("m")
    )
    return best.select(
        "q_id",
        (-F.col("m.neg_b")).alias("b_id"),
        F.col("m.n_match").alias("n_match"),
        (F.col("m.n_match").cast("double") / N_PERMS).alias("est_jaccard"),
    ).orderBy("q_id")


@register(
    "cross_snapshot_containment",
    _JOIN_CTE
    + """
SELECT c.q_id, c.b_id,
       CAST(len(hq.hl_set) AS BIGINT) AS n_q,
       CAST(len(list_intersect(hq.hl_set, hb.hl_set)) AS BIGINT) AS n_common,
       CAST(len(list_intersect(hq.hl_set, hb.hl_set)) AS DOUBLE)
         / len(hq.hl_set) AS containment
FROM (SELECT DISTINCT q_id, b_id FROM scored) c
JOIN (SELECT doc_id, list_distinct(hl) AS hl_set FROM hs) hq ON hq.doc_id = c.q_id
JOIN (SELECT doc_id, list_distinct(hl) AS hl_set FROM hs) hb ON hb.doc_id = c.b_id
ORDER BY q_id, b_id
""",
    doc="Cross-snapshot containment: for each (new-snapshot doc, "
    "matched old-snapshot doc) candidate from the MinHash join, the "
    "EXACT asymmetric containment |shingles(q) n shingles(b)| / "
    "|shingles(q)| — near 1.0 means the new doc is a sub/superset "
    "re-crawl rather than fresh content, the signal incremental "
    "ingestion uses to skip re-processing. Exact set intersection runs "
    "ONLY on LSH-capped candidates (never all pairs); shingle sets "
    "join back by doc_id (AQE equi-joins), each intersection bounded "
    "by its own two documents' lengths. Containment is one double "
    "division of exact ints, so the oracle hash is stable.",
    tags=("dedup", "sketch", "join"),
)
def cross_snapshot_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_rows, sig_full, hs_sets = _signed_frames(spark, sf_dir)
    cand = _scored(band_rows, sig_full).select("q_id", "b_id").distinct()
    hq = hs_sets.select(F.col("doc_id").alias("q_id"), F.col("hset").alias("q_set"))
    hb = hs_sets.select(F.col("doc_id").alias("b_id"), F.col("hset").alias("b_set"))
    n_q = F.size("q_set").cast("long")
    n_common = F.size(F.array_intersect("q_set", "b_set")).cast("long")
    return (
        cand.join(hq, "q_id")
        .join(hb, "b_id")
        .select(
            "q_id",
            "b_id",
            n_q.alias("n_q"),
            n_common.alias("n_common"),
            (n_common.cast("double") / n_q).alias("containment"),
        )
        .orderBy("q_id", "b_id")
    )
