"""Near-duplicate Bloom gate: MinHash LSH band signatures probed
through a constant-size Bloom register — the map-side near-dup SCREEN
a crawl ingest runs before paying any join.

Composes the repo's two scale primitives into a third capability:

- ``dedup.py``'s MinHash machinery answers "which docs are near-dups"
  with a banded equi-join — a shuffle over the full corpus;
- ``scale_ops.py``'s Bloom register answers "was this EXACT hash seen"
  with a broadcast row and zero shuffle;
- this module answers "MIGHT this doc be a near-dup of the base
  corpus" with the Bloom register built over the base's LSH band
  signatures: a doc whose bands all miss shares no complete band with
  ANY base doc, so it cannot be an LSH candidate — misses are
  definitive (up to MinHash's own recall), hits are candidates for the
  exact ladder. Per-doc verdict, entirely map-side: no join fan-out,
  no hot-bucket cap needed (nothing is enumerated), no state.

At 10^12 docs the register stays one broadcast row (constant in the
corpus, BLOOM_BITS is the sandbox-scale knob — production sizes ~10
bits per base band), so gating an arriving snapshot costs one scan of
the snapshot.

Reference: none (capability beyond the reference). Public algorithm:
Broder resemblance sketches + Bloom 1970; the screen-then-verify
shape is the standard crawl-dedup frontier filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, spread
from . import register
from ._portable import phash60, phash60_sql, shingles3, words_col
from .dedup import (
    BAND_SIZE,
    N_PERMS,
    _SHINGLE_LIST_SQL,
    _WS_SQL,
    _XOR_LIST_SQL,
    _minhash_cols,
)
from .minhash_join import N_BANDS, _SIDE_SQL, _side_col
from .scale_ops import BLOOM_BITS, BLOOM_K, BLOOM_WORD_BITS, bloom_register_row


def band_key_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band_keys: array<string>) — the doc's LSH band
    signatures as 'band:sig' strings, all map-side. Docs with fewer
    than 3 words have no shingles and get an EMPTY array (they can
    never be LSH candidates), mirroring the len(ws) >= 3 filter in the
    banded-join queries."""
    d = docs.select(
        "doc_id",
        F.transform(shingles3(words_col(F.col("text"))), phash60).alias("hl"),
    )
    mhs = F.array(*_minhash_cols())
    d2 = d.select("doc_id", F.when(F.size("hl") > 0, mhs).alias("mhs"))
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(band)),
                F.concat_ws(
                    "-",
                    *[
                        F.col("mhs")[band * BAND_SIZE + i].cast("string")
                        for i in range(BAND_SIZE)
                    ],
                ),
            )
            for band in range(N_BANDS)
        ]
    )
    empty = F.array().cast("array<string>")
    return d2.select(
        "doc_id", F.when(F.col("mhs").isNotNull(), keys).otherwise(empty).alias("band_keys")
    )


def band_register_row(base_docs: DataFrame) -> DataFrame:
    """ONE-row Bloom register over the base corpus's band keys —
    constant-size and broadcastable (bloom_register_row); the gate
    broadcasts it once per query.

    explode_outer + a null filter yields the same rows as explode, but
    a plain explode lets Catalyst infer ``size(band_keys) > 0`` and push
    it below the projections, inlining the whole MinHash expression tree
    into that filter."""
    keys = (
        band_key_frame(base_docs)
        .select(F.explode_outer("band_keys").alias("content_hash"))
        .filter(F.col("content_hash").isNotNull())
    )
    return bloom_register_row(keys.distinct())


# Per-key Bloom membership test as a nested higher-order-function
# expression (k is the outer lambda's band-key variable): BLOOM_K
# positions via the portable 60-bit hash, each bit-tested against the
# broadcast register map. Same positions as scale_ops.bloom_positions,
# written in SQL because shiftright takes a column bit count there (the
# python API wants a literal).
_KEY_HIT = (
    "forall("
    f" transform(array({', '.join(str(j) for j in range(BLOOM_K))}),"
    "  j -> CAST(conv(substring(md5(CAST(concat_ws(':', k, j) AS BINARY)),"
    f"  1, 15), 16, 10) AS BIGINT) % {BLOOM_BITS}),"
    f" p -> (shiftright(COALESCE(element_at(bloom, p DIV {BLOOM_WORD_BITS}),"
    f"  CAST(0 AS BIGINT)), CAST(p % {BLOOM_WORD_BITS} AS INT))"
    "  & CAST(1 AS BIGINT)) = 1"
    ")"
)

_N_HOT = f"size(filter(band_keys, k -> {_KEY_HIT}))"


def minhash_gate_frame(docs: DataFrame, register_row: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_bands, n_hot_bands,
    near_dup_candidate) entirely map-side: band keys per doc, each
    probed against the broadcast register inside one array expression.
    No aggregation and no shuffle: a broadcast cross join and a map."""
    return (
        band_key_frame(docs)
        .crossJoin(F.broadcast(register_row))
        .select(
            "doc_id",
            F.size("band_keys").cast("long").alias("n_bands"),
            F.expr(_N_HOT).cast("long").alias("n_hot_bands"),
            (F.expr(_N_HOT) > 0).alias("near_dup_candidate"),
        )
    )


_BLOOM_POS_K = f"TRY_CAST('0x' || SUBSTR(md5(k || ':' || j), 1, 15) AS BIGINT) % {BLOOM_BITS}"

_GATE_SQL = f"""
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
keys AS (
  SELECT doc_id, side, CAST(band AS VARCHAR) || ':' || band_sig AS k FROM sig
),
bpos AS (
  SELECT {_BLOOM_POS_K} AS pos
  FROM (SELECT DISTINCT k FROM keys WHERE side = 'base'),
       UNNEST(generate_series(0, {BLOOM_K - 1})) AS t(j)
),
bloom AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         BIT_OR(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER)) AS bits
  FROM bpos GROUP BY pos // {BLOOM_WORD_BITS}
),
qpos AS (
  SELECT doc_id, k, {_BLOOM_POS_K} AS pos
  FROM keys, UNNEST(generate_series(0, {BLOOM_K - 1})) AS t(j)
  WHERE side = 'query'
),
khit AS (
  SELECT doc_id, k,
         MIN(CASE WHEN (COALESCE(b.bits, 0) >> CAST(p.pos % {BLOOM_WORD_BITS} AS INTEGER))
                       & 1 = 1 THEN 1 ELSE 0 END) AS hit
  FROM qpos p LEFT JOIN bloom b ON p.pos // {BLOOM_WORD_BITS} = b.word
  GROUP BY doc_id, k
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bands,
         CAST(SUM(hit) AS BIGINT) AS n_hot_bands
  FROM khit GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_bands, CAST(0 AS BIGINT)) AS n_bands,
       COALESCE(a.n_hot_bands, CAST(0 AS BIGINT)) AS n_hot_bands,
       COALESCE(a.n_hot_bands, CAST(0 AS BIGINT)) > 0 AS near_dup_candidate
FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
WHERE d.side = 'query' ORDER BY d.doc_id
"""


@register(
    "near_dup_bloom_gate",
    _GATE_SQL,
    doc="Map-side near-duplicate screen: the query-side docs (same "
    "deterministic ~20% split as minhash_join) probe a Bloom register "
    "built over the BASE side's MinHash LSH band signatures. A doc "
    "whose bands all miss shares no complete band with any base doc — "
    "misses are definitive (up to MinHash recall), hits go on to the "
    "exact ladder. Per-doc verdict with NO join fan-out and no "
    "hot-bucket cap (nothing is enumerated): the register is one "
    "broadcast row, constant in the corpus, so gating a snapshot costs "
    "one scan of the snapshot. No-false-negative containment vs the "
    "exact minhash_join candidates is asserted in "
    "tests/test_minhash_gate.py.",
    tags=("dedup", "sketch", "gate"),
)
def near_dup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", _side_col().alias("side")
    )
    base = d.filter(F.col("side") == "base").select("doc_id", "text")
    queries = d.filter(F.col("side") == "query").select("doc_id", "text")
    reg = band_register_row(base)
    return minhash_gate_frame(queries, reg).orderBy("doc_id")
