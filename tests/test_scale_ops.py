"""Semantics + plan-shape tests for queries/scale_ops.py (bigram LM
quality, Bloom-filter decontamination and register row, Z-order layout).

Value tests recompute each operator's DEFINITION independently in
python/pandas (test_queries_oracle covers Spark<->DuckDB parity; this
file guards against a shared mistake in both engine programs).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq


def _words(text: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if w]


def _phash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_bigram_lm_quality_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import LM_SCALE, bigram_lm_quality

    got = {r["doc_id"]: r for r in bigram_lm_quality(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    c1: Counter = Counter()
    c2: Counter = Counter()
    doc_bigrams: dict[int, list[tuple[str, str]]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        ws = _words(text)
        bgs = [(ws[i], ws[i + 1]) for i in range(len(ws) - 1)]
        if not bgs:
            continue
        doc_bigrams[doc_id] = bgs
        for w1, w2 in bgs:
            c1[w1] += 1
            c2[(w1, w2)] += 1

    assert set(got) == set(doc_bigrams)
    for doc_id, bgs in doc_bigrams.items():
        score_sum = sum(LM_SCALE * c2[b] // c1[b[0]] for b in bgs)
        row = got[doc_id]
        assert row["n_bigrams"] == len(bgs)
        assert row["score_sum"] == score_sum
        assert row["lm_score"] == score_sum / len(bgs)


def test_bigram_lm_quality_no_window_in_plan(spark, sf_medium):
    """Corpus frequencies must be groupBy + join-back, never a window
    (queries/_scale_notes.py)."""
    from mangaextractor_spark.queries.scale_ops import bigram_lm_quality

    plan = (
        bigram_lm_quality(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    # The exploded bigram frame feeds three consumers through one persist.
    assert "InMemoryTableScan" in plan


def test_bloom_decontamination_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_decontamination,
    )

    got = {r["doc_id"]: r for r in bloom_decontamination(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    hashes = {
        doc_id: hashlib.md5(text.encode()).hexdigest()
        for doc_id, text in zip(docs["doc_id"], docs["text"])
    }
    base = {h for d, h in hashes.items() if d % 5 != 4}
    bits: set[int] = set()
    for h in base:
        for j in range(BLOOM_K):
            bits.add(_phash60(f"{h}:{j}") % BLOOM_BITS)

    inc = {d: h for d, h in hashes.items() if d % 5 == 4}
    assert set(got) == set(inc)
    for doc_id, h in inc.items():
        expect_hit = all(_phash60(f"{h}:{j}") % BLOOM_BITS in bits for j in range(BLOOM_K))
        row = got[doc_id]
        assert row["content_hash"] == h
        assert row["bloom_hit"] == expect_hit
        assert row["true_dup"] == (h in base)
    # No false negatives, ever (the Bloom guarantee).
    assert all(got[d]["bloom_hit"] for d, h in inc.items() if h in base)


def test_bloom_probe_is_broadcast(spark, sf_medium):
    """The register table joins the probe side BROADCAST — the whole
    point of the sketch is zero base-side shuffle at probe time."""
    from mangaextractor_spark.queries.scale_ops import bloom_decontamination

    plan = (
        bloom_decontamination(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_bloom_exhibits_false_positives(spark, sf_medium):
    """The grid is sized so the fixture SHOWS the FP band the QC view
    exists to measure (like cm_heavy_hitters' deliberate collision)."""
    from mangaextractor_spark.queries.scale_ops import bloom_decontamination

    rows = bloom_decontamination(spark, sf_medium).collect()
    fp = [r for r in rows if r["bloom_hit"] and not r["true_dup"]]
    assert fp, "expected visible false positives on the small grid"


def test_register_row_is_constant_size(spark, sf_small):
    from pyspark.sql import functions as F

    from mangaextractor_spark.queries.scale_ops import BLOOM_BITS, bloom_register_row

    base_docs = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
        F.col("doc_id") % 5 != 4
    )
    base = base_docs.select(F.md5(F.col("text").cast("binary")).alias("content_hash")).distinct()
    reg = bloom_register_row(base).collect()
    assert len(reg) == 1
    bloom = reg[0]["bloom"]
    assert len(bloom) <= BLOOM_BITS // 32
    # python recompute of one register word proves the bit layout
    some_hash = sorted(
        hashlib.md5(r["text"].encode()).hexdigest() for r in base_docs.select("text").collect()
    )[0]
    pos = _phash60(f"{some_hash}:0") % BLOOM_BITS
    assert (bloom[pos // 32] >> (pos % 32)) & 1 == 1


def _morton(lang_code: int, len_b: int) -> int:
    z = 0
    for i in range(8):
        z |= ((len_b >> i) & 1) << (2 * i)
        z |= ((lang_code >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_layout_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import (
        Z_FILES,
        Z_LANG_CODES,
        Z_LANG_DEFAULT,
        Z_LEN_DIV,
        zorder_layout,
    )

    got = {r["doc_id"]: r for r in zorder_layout(spark, sf_small).collect()}
    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    step = 65536 // Z_FILES
    assert len(got) == len(docs)
    for doc_id, lang, n_chars in zip(docs["doc_id"], docs["lang"], docs["n_chars"]):
        code = Z_LANG_CODES.get(lang, Z_LANG_DEFAULT)
        len_b = min(n_chars // Z_LEN_DIV, 255)
        z = _morton(code, len_b)
        row = got[doc_id]
        assert (row["lang_code"], row["len_b"], row["zvalue"]) == (code, len_b, z)
        assert row["file_id"] == z // step


def test_zorder_groups_both_dims(spark, sf_small):
    """The layout property Z-order exists for: within one target file,
    BOTH dimensions have tight min/max ranges, so file skipping prunes
    on either column (a lexicographic sort is tight only in the leading
    column). The z-range of one file spans at most 1/Z_FILES of the key
    space, which bounds each dimension's spread to ~sqrt of its
    domain."""
    from mangaextractor_spark.queries.scale_ops import zorder_layout

    rows = zorder_layout(spark, sf_small).collect()
    by_file: dict[int, list] = defaultdict(list)
    for r in rows:
        by_file[r["file_id"]].append(r)
    assert len(by_file) > 1
    for file_id, members in by_file.items():
        lens = [m["len_b"] for m in members]
        codes = [m["lang_code"] for m in members]
        # 4096-wide z ranges interleave 8+8 bits: each dim spans <= 64
        # values of its 256-value domain within one file.
        assert max(lens) - min(lens) <= 64, file_id
        assert max(codes) - min(codes) <= 64, file_id


def test_zorder_no_hash_exchange(spark, sf_medium):
    """Pure per-row bit arithmetic: no hash shuffle anywhere (the only
    exchange is the presentation sort's range partitioning)."""
    from mangaextractor_spark.queries.scale_ops import zorder_layout

    plan = (
        zorder_layout(spark, sf_medium)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_file_skipping_shows_the_layout_trade(spark, sf_medium):
    """Z-order bounds BOTH dims per file, so the length-only predicate
    reads fewer rows than under the lang-leading lexicographic grid;
    the lex grid's lang-pure files win the lang-only predicate. The
    trade must be visible in the data, not asserted in prose."""
    from mangaextractor_spark.queries.scale_ops import file_skipping_stats

    rows = {(r["layout"], r["pred_id"]): r for r in file_skipping_stats(spark, sf_medium).collect()}
    assert rows[("zorder", "len_40_60")]["n_rows_read"] < rows[("lex", "len_40_60")]["n_rows_read"]
    assert rows[("lex", "lang_en")]["n_rows_read"] <= rows[("zorder", "lang_en")]["n_rows_read"]
    # the planner never reads zero files for a predicate with matches
    for key, r in rows.items():
        assert 0 < r["n_files_read"] <= r["n_files"], key


def test_join_skew_report_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import SKEW_SCALE, SKEW_TOP, join_skew_report

    got = join_skew_report(spark, sf_small).collect()
    orders = pq.read_table(f"{sf_small}/orders.parquet").to_pandas()
    cnt = Counter(orders["o_custkey"])
    n_keys, n_rows, max_cnt = len(cnt), len(orders), max(cnt.values())
    head = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:SKEW_TOP]
    assert len(got) == min(SKEW_TOP, n_keys)
    for row, (key, c) in zip(got, head):
        assert (row["key"], row["cnt"]) == (key, c)
        assert row["share_e6"] == SKEW_SCALE * c // n_rows
        assert row["vs_mean_e6"] == SKEW_SCALE * c * n_keys // n_rows
        assert (row["n_keys"], row["n_rows"], row["max_cnt"]) == (n_keys, n_rows, max_cnt)


def test_join_skew_report_no_window(spark, sf_medium):
    """Head extraction must be sort+limit (TakeOrdered), never a
    corpus-sized ranking window."""
    from mangaextractor_spark.queries.scale_ops import join_skew_report

    plan = (
        join_skew_report(spark, sf_medium)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "TakeOrdered" in plan


def test_bpe_pair_counts_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import BPE_TOP, bpe_pair_counts

    got = bpe_pair_counts(spark, sf_small).collect()

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    wc: Counter = Counter()
    for text in docs["text"]:
        wc.update(_words(text))

    def pair_counts(spells: dict[str, int]) -> Counter:
        pc: Counter = Counter()
        for spell, cnt in spells.items():
            sy = spell.split(" ")
            for i in range(len(sy) - 1):
                pc[f"{sy[i]} {sy[i+1]}"] += cnt
        return pc

    spells = {" ".join(word): cnt for word, cnt in wc.items()}
    pc1 = pair_counts(spells)
    top1 = min(pc1.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    # python str.replace is left-to-right non-overlapping, same as both engines
    spells2: Counter = Counter()
    for spell, cnt in spells.items():
        spells2[spell.replace(top1, top1.replace(" ", ""))] += cnt
    pc2 = pair_counts(spells2)

    def head(pc: Counter) -> list[tuple[str, int]]:
        return sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP]

    expect = [(1, p, c) for p, c in head(pc1)] + [(2, p, c) for p, c in head(pc2)]
    assert [(r["merge_round"], r["pair"], r["wcount"]) for r in got] == expect


def test_bpe_no_window_vocab_checkpointed(spark, sf_medium):
    """Merge election is TakeOrdered + broadcast back; the corpus scan
    folds to the vocabulary once (localCheckpoint), so no Window and no
    re-scan per round appears in the plan."""
    from mangaextractor_spark.queries.scale_ops import bpe_pair_counts

    df = bpe_pair_counts(spark, sf_medium)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan or "Scan rdd" in plan


def test_feature_hash_vectors_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import FH_DIM, feature_hash_vectors

    got = {(r["doc_id"], r["dim"]): r["val"] for r in feature_hash_vectors(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    expect: Counter = Counter()
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for t in _words(text):
            hv = _phash60(t)
            expect[(doc_id, hv % FH_DIM)] += 1 if (hv // FH_DIM) % 2 == 0 else -1
    expect = {k: v for k, v in expect.items() if v != 0}
    assert got == expect


def test_feature_hash_no_window(spark, sf_medium):
    from mangaextractor_spark.queries.scale_ops import feature_hash_vectors

    plan = (
        feature_hash_vectors(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_event_overlap_pairs_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import OVERLAP_US, event_overlap_pairs

    got = {(r["user_id"], r["a_id"], r["b_id"]): r["gap_us"]
           for r in event_overlap_pairs(spark, sf_small).collect()}

    ev = pq.read_table(f"{sf_small}/events.parquet").to_pandas()
    # pandas loads datetime64[ns]; convert to epoch microseconds exactly
    ev["us"] = ev["ts"].values.astype("datetime64[us]").astype("int64")
    expect = {}
    by_user = ev.groupby("user_id")
    for uid, grp in by_user:
        rows = list(zip(grp["event_id"], grp["us"]))
        for i, (ida, ta) in enumerate(rows):
            for idb, tb in rows:
                if ida < idb and abs(ta - tb) <= OVERLAP_US:
                    expect[(uid, ida, idb)] = tb - ta
    assert got == expect and len(got) > 0


def test_event_overlap_pairs_is_equi_join(spark, sf_medium):
    """The scale point: the plan must contain NO nested-loop/cartesian
    join — the theta condition rides a (user_id, bucket) equi-join that
    AQE can skew-split."""
    from mangaextractor_spark.queries.scale_ops import event_overlap_pairs

    plan = (
        event_overlap_pairs(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_range_partition_stats_matches_definition(spark, sf_small):
    from mangaextractor_spark.queries.scale_ops import N_RANGES, range_partition_stats

    got = {r["part_id"]: r for r in range_partition_stats(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    ns = sorted(docs["n_chars"].tolist())
    n = len(ns)
    bounds = [ns[-(-n * k // N_RANGES) - 1] for k in range(1, N_RANGES)]
    parts: dict[int, list[int]] = defaultdict(list)
    for v in docs["n_chars"]:
        parts[sum(v > b for b in bounds)].append(v)
    assert set(got) == set(parts)
    for pid, vals in parts.items():
        r = got[pid]
        assert r["n_docs"] == len(vals)
        assert (r["min_chars"], r["max_chars"]) == (min(vals), max(vals))
        assert r["balance_e6"] == 1_000_000 * len(vals) * N_RANGES // n
    # equi-depth: every partition within 2x of the ideal share on this
    # smooth fixture (exact equality impossible with duplicate values)
    for r in got.values():
        assert 300_000 <= r["balance_e6"] <= 2_000_000


def test_range_partition_window_rides_histogram(spark, sf_medium):
    """The cumulative window's input must be the n_chars histogram
    aggregate, never raw doc rows (the length_quantiles rule)."""
    from mangaextractor_spark.queries.scale_ops import range_partition_stats

    plan = (
        range_partition_stats(spark, sf_medium)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    w_pos = plan.index("Window")
    assert "HashAggregate" in plan[w_pos:], "window input is not pre-aggregated"
