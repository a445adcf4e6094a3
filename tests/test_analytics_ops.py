"""Semantics + plan-shape tests for the round-4 analytics additions:
exact histogram quantiles, incremental (cross-snapshot) dedup, sliding
time windows and sessions, the sketch estimators, and the near-dup
PageRank and MinHash accuracy operators.

Each value test recomputes the operator's DEFINITION independently in
pandas/numpy (not via the SQL oracle — test_queries_oracle already
covers engine parity), so a shared mistake in both engine programs
cannot hide.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyarrow.parquet as pq


def _words(text: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if w]


def test_length_quantiles_matches_type1_definition(spark, sf_small):
    from mangaextractor_spark.queries.textops import QUANTILE_POINTS, length_quantiles

    got = {r["lang"]: r for r in length_quantiles(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    docs["n"] = docs["text"].map(lambda t: len(_words(t)))
    for lang, grp in docs.groupby("lang"):
        ns = sorted(grp["n"].tolist())
        row = got[lang]
        assert row["n_docs"] == len(ns)
        for name, num, den in QUANTILE_POINTS:
            k = -(-len(ns) * num // den)  # ceil(p * n)
            assert row[name] == ns[k - 1], (lang, name)


def test_length_quantiles_window_rides_the_histogram(spark, sf_medium):
    """The cumulative window's input must be the (lang, n) aggregate,
    never raw document rows: the Window operator sits ABOVE a
    HashAggregate in the plan."""
    from mangaextractor_spark.queries.textops import length_quantiles

    plan = (
        length_quantiles(spark, sf_medium)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan
    w_pos = plan.index("Window")
    assert "HashAggregate" in plan[w_pos:], "window input is not pre-aggregated"


def test_incremental_dedup_semantics(spark, sf_small):
    from mangaextractor_spark.queries.dedup import incremental_dedup

    out = incremental_dedup(spark, sf_small).collect()

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    docs["h"] = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    base_hashes = set(docs.loc[docs.doc_id % 5 != 4, "h"])
    inc = docs[docs.doc_id % 5 == 4]
    fresh = inc[~inc.h.isin(base_hashes)]
    expect = (
        fresh.groupby("h")
        .agg(doc_id=("doc_id", "min"), n=("doc_id", "size"))
        .reset_index()
    )
    got = {r["content_hash"]: (r["doc_id"], r["n_dups_in_increment"]) for r in out}
    assert got == {r.h: (r.doc_id, r.n) for r in expect.itertuples()}
    # every survivor is from the increment, and none was ever in the base
    assert all(d % 5 == 4 for d, _ in got.values())
    assert not (set(got) & base_hashes)


def test_events_sliding_1h_matches_pandas(spark, sf_small):
    """RANGE-frame semantics recomputed independently: for each event,
    count/sum over the same user's events in (ts - 1h, ts] inclusive of
    both endpoints per SQL RANGE ... PRECEDING AND CURRENT ROW."""
    import datetime as dt
    import decimal

    from mangaextractor_spark.queries.relational import events_sliding_1h

    out = {r["event_id"]: r for r in events_sliding_1h(spark, sf_small).collect()}

    ev = pq.read_table(f"{sf_small}/events.parquet").to_pandas()
    hour = dt.timedelta(hours=1)
    for user, grp in ev.groupby("user_id"):
        rows = list(grp.itertuples())
        for r in rows:
            inside = [
                x for x in rows if r.ts - hour <= x.ts <= r.ts
            ]
            got = out[r.event_id]
            assert got["n_1h"] == len(inside), r.event_id
            exact = sum(
                decimal.Decimal(str(round(x.value, 4))) for x in inside
            )
            assert got["value_1h"] == float(exact), r.event_id


def test_session_window_exact_gap_boundary(spark):
    """Pins the boundary rule the registered oracle states: Spark merges
    INCLUSIVELY (an event exactly at prev + 30 min extends the session);
    only a strictly larger gap — here 30 min + 1 s — starts a new one.
    Same > split rule as the hand-rolled event_sessions."""
    import datetime as dt

    import pandas as pd

    from mangaextractor_spark.queries.relational import session_stats

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, mins(0), 1, "view", 1.0, "{}"),
        (2, mins(29), 1, "view", 2.0, "{}"),  # 29 < 30 min gap: merges
        (3, mins(59), 1, "buy", 10.0, "{}"),  # EXACTLY 30 min after #2: still merges
        (4, mins(89) + dt.timedelta(seconds=1), 1, "view", 5.0, "{}"),  # 30m+1s: NEW session
        (5, mins(5), 2, "view", 3.0, "{}"),
    ]
    events = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    )
    got = session_stats(events).orderBy("user_id", "session_start").collect()
    u1 = [r for r in got if r.user_id == 1]
    assert len(u1) == 2
    assert (u1[0].session_start, u1[0].n_events, u1[0].value_sum) == (mins(0), 3, 13.0)
    assert u1[0].session_end == mins(59 + 30)
    assert (u1[1].session_start, u1[1].n_events) == (mins(89) + dt.timedelta(seconds=1), 1)


def test_hll_distinct_tokens_matches_python_hll(spark, sf_small):
    """Registers and estimate recomputed independently: portable 60-bit
    md5 hash, bucket/rho bit ops, scaled-BIGINT harmonic sum, linear
    counting in the small range."""
    from mangaextractor_spark.queries.textops import (
        HLL_B,
        HLL_M,
        hll_distinct_tokens,
    )

    out = {r["lang"]: r for r in hll_distinct_tokens(spark, sf_small).collect()}

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    suffix_bits = 60 - HLL_B
    mask = (1 << suffix_bits) - 1
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set] = {}
    for r in docs.itertuples():
        for tok in _words(r.text):
            exact.setdefault(r.lang, set()).add(tok)
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            bucket, rest = h >> suffix_bits, h & mask
            rho = suffix_bits + 1 - rest.bit_length() if rest else suffix_bits + 1
            lr = regs.setdefault(r.lang, {})
            lr[bucket] = max(lr.get(bucket, 0), rho)
    for lang, lr in regs.items():
        s = (HLL_M - len(lr)) * (1 << (suffix_bits + 1)) + sum(
            1 << (suffix_bits + 1 - rho) for rho in lr.values()
        )
        raw = (
            0.7213 / (1.0 + 1.079 / float(HLL_M)) * float(HLL_M) * float(HLL_M)
            * float(1 << (suffix_bits + 1))
        ) / float(s)
        n_zero = HLL_M - len(lr)
        est = (
            float(HLL_M) * math.log(float(HLL_M) / float(n_zero))
            if n_zero > 0 and raw <= 2.5 * HLL_M
            else raw
        )
        row = out[lang]
        assert row["n_exact"] == len(exact[lang])
        assert row["n_registers"] == len(lr)
        assert row["hll_estimate"] == round(est, 4), lang
        # the sketch is a real estimator: within 10% here
        assert abs(row["rel_err_e6"]) < 100_000, (lang, row["rel_err_e6"])


def test_cm_heavy_hitters_matches_python_sketch(spark, sf_small):
    """Count-Min recomputed independently: salted portable hashes,
    integer counters, min-over-rows estimate, CM >= truth invariant."""
    from collections import Counter

    from mangaextractor_spark.queries.textops import (
        CM_D,
        CM_W,
        TOP_HITTERS,
        cm_heavy_hitters,
    )

    rows = cm_heavy_hitters(spark, sf_small).collect()

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    toks = [t for txt in docs["text"] for t in _words(txt)]
    truth = Counter(toks)
    counters: Counter = Counter()
    def cell(tok, i):
        h = int(hashlib.md5(f"cm{i}:{tok}".encode()).hexdigest()[:15], 16)
        return (i, h % CM_W)
    for t in toks:
        for i in range(CM_D):
            counters[cell(t, i)] += 1
    top = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_HITTERS]
    expect = [
        (tok, n, min(counters[cell(tok, i)] for i in range(CM_D)))
        for tok, n in top
    ]
    got = [(r["token"], r["n_true"], r["cm_estimate"]) for r in rows]
    assert got == expect
    assert all(r["overestimate"] >= 0 for r in rows)  # CM never undercounts


def test_length_mad_matches_type1_definition(spark, sf_small):
    from mangaextractor_spark.queries.textops import length_mad

    got = {r["lang"]: r for r in length_mad(spark, sf_small).collect()}

    def med1(vals):  # type-1 median: element at rank ceil(n/2)
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1]

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()
    docs["n"] = docs["text"].map(lambda t: len(_words(t)))
    for lang, grp in docs.groupby("lang"):
        ns = grp["n"].tolist()
        m = med1(ns)
        mad = med1([abs(x - m) for x in ns])
        row = got[lang]
        assert (row["n_docs"], row["median"], row["mad"]) == (len(ns), m, mad), lang


def test_near_dup_pagerank_matches_python(spark, sf_small):
    """Integer-PageRank logic recomputed independently over the same
    candidate graph (pairs come from minhash_lsh_pairs, which has its
    own oracle + tests — the independence boundary here is the rank
    arithmetic)."""
    from mangaextractor_spark.queries.dedup import (
        PR_ITERS,
        PR_TOP,
        minhash_lsh_pairs,
        near_dup_pagerank,
    )

    got = [(r["node"], r["deg"], r["pr"]) for r in near_dup_pagerank(spark, sf_small).collect()]

    pairs = [(r.a_id, r.b_id) for r in minhash_lsh_pairs(spark, sf_small).collect()]
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    deg = {n: len(vs) for n, vs in adj.items()}
    pr = {n: 1_000_000 for n in adj}
    for _ in range(PR_ITERS):
        s = {n: 0 for n in adj}
        for n, vs in adj.items():
            c = pr[n] // deg[n]
            for v in vs:
                s[v] += c
        pr = {n: 150_000 + (850 * s[n]) // 1000 for n in adj}
    expect = sorted(((n, deg[n], pr[n]) for n in adj), key=lambda t: (-t[2], t[0]))[:PR_TOP]
    assert got == expect
    # rank mass sanity: every node's rank stays within the damped band
    assert all(p >= 150_000 for _, _, p in got)


def test_minhash_jaccard_accuracy_matches_python(spark, sf_small):
    """Signature-match counts and true Jaccard recomputed from raw text
    (portable hash + XOR permutation mixes, distinct 3-shingle sets)."""
    from mangaextractor_spark.queries.dedup import (
        N_PERMS,
        XOR_CONSTS,
        minhash_jaccard_accuracy,
    )

    rows = minhash_jaccard_accuracy(spark, sf_small).collect()
    assert rows, "fixture corpus must yield candidate pairs"

    docs = pq.read_table(f"{sf_small}/documents.parquet").to_pandas()

    def shingle_hashes(text):
        ws = _words(text)
        return [
            int(hashlib.md5(" ".join(ws[i : i + 3]).encode()).hexdigest()[:15], 16)
            for i in range(len(ws) - 2)
        ]

    hls = {int(r.doc_id): shingle_hashes(r.text) for r in docs.itertuples()}
    for r in rows:
        ha, hb = hls[r["a_id"]], hls[r["b_id"]]
        sig_a = [min(h ^ XOR_CONSTS[p] for h in ha) for p in range(N_PERMS)]
        sig_b = [min(h ^ XOR_CONSTS[p] for h in hb) for p in range(N_PERMS)]
        n_match = sum(1 for x, y in zip(sig_a, sig_b) if x == y)
        sa, sb = set(ha), set(hb)
        true_j = round(len(sa & sb) / len(sa | sb), 6)
        assert r["n_match"] == n_match, (r["a_id"], r["b_id"])
        assert r["est_jaccard"] == round(n_match / N_PERMS, 6)
        assert r["true_jaccard"] == true_j
        assert r["err_e6"] == int(round((round(n_match / N_PERMS, 6) - true_j) * 1_000_000))
