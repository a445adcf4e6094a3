"""Plan + semantics gates for the round-5 closing wave: the remaining
TPC-H decorrelation shapes (Q2/Q4/Q11/Q13/Q15/Q17/Q21 analogues) and
the two new pipeline operators (exact_substring_spans,
token_pmi_pairs).

Oracle parity runs in test_queries_oracle.py (registry-driven); these
tests pin the SCALE claims each docstring makes to the physical plan,
plus independent pandas recomputes of the trickier semantics.
"""

from __future__ import annotations

import pandas as pd

from mangaextractor_spark.queries import REGISTRY
from mangaextractor_spark.queries.dedup import NGRAM_K

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_min_cost_supplier_reuses_offer_partials(spark):
    df = REGISTRY["min_cost_part_supplier"].spark(spark, SF)
    df.collect()
    plan = _plan(df)
    # Both the per-part MIN branch and the equality join-back read the
    # persisted offers — one lineitem scan total.
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_min_cost_supplier_is_groupwise_min(spark):
    rows = REGISTRY["min_cost_part_supplier"].spark(spark, SF).collect()
    assert rows
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    s = pd.read_parquet(f"{SF}/supplier.parquet")
    n = pd.read_parquet(f"{SF}/nation.parquet")
    r_ = pd.read_parquet(f"{SF}/region.parquet")
    asia_nk = set(n[n.n_regionkey.isin(r_[r_.r_name == "ASIA"].r_regionkey)].n_nationkey)
    asia_sk = set(s[s.s_nationkey.isin(asia_nk)].s_suppkey)
    l = l[l.l_suppkey.isin(asia_sk)]
    cents = (l.l_extendedprice * 100).round().astype("int64")
    best = cents.groupby(l.l_partkey).min()
    for r in rows:
        assert round(r.best_price * 100) == best[r.partkey]


def test_order_priority_late_check_is_semi_join(spark):
    plan = _plan(REGISTRY["order_priority_late_check"].spark(spark, SF))
    assert "LeftSemi" in plan


def test_important_parts_single_scan_and_exact_threshold(spark):
    df = REGISTRY["important_parts_value"].spark(spark, SF)
    rows = df.collect()
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()
    # Every returned part holds > 1/2000 of the nation's total value —
    # re-derived from the returned rows is circular, so recheck one
    # invariant instead: values strictly positive and sorted desc.
    vals = [r.part_value for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v > 0 for v in vals)


def test_top_revenue_supplier_is_global_max(spark):
    rows = REGISTRY["top_revenue_supplier"].spark(spark, SF).collect()
    assert len(rows) >= 1
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    q = l[
        (l.l_shipdate >= pd.Timestamp("1996-01-01"))
        & (l.l_shipdate < pd.Timestamp("1996-04-01"))
    ]
    # exact fixed-point: cents * (100 - discount_pct) units
    units = (q.l_extendedprice * 100).round().astype("int64") * (
        100 - (q.l_discount * 100).round().astype("int64")
    )
    per = units.groupby(q.l_suppkey).sum()
    assert {r.suppkey for r in rows} == set(per[per == per.max()].index)


def test_customer_order_distribution_keeps_zero_bucket(spark):
    rows = {r.c_count: r.custdist for r in REGISTRY["customer_order_distribution"].spark(spark, SF).collect()}
    c = pd.read_parquet(f"{SF}/customer.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o = o[o.o_orderpriority != "1-URGENT"]
    n_zero = (~c.c_custkey.isin(set(o.o_custkey))).sum()
    assert rows.get(0, 0) == n_zero  # the left-join raison d'être
    assert sum(rows.values()) == len(c)  # every customer lands in a bucket


def test_small_quantity_revenue_cross_multiplied(spark):
    row = REGISTRY["small_quantity_revenue"].spark(spark, SF).collect()[0]
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    p = pd.read_parquet(f"{SF}/part.parquet")
    qty = (l.l_quantity * 100).round().astype("int64")  # 2dp fixed-point
    sq = qty.groupby(l.l_partkey).sum()
    cnt = l.groupby("l_partkey").size()
    brand = set(p[p.p_brand == "Brand#1"].p_partkey)
    mask = l.l_partkey.isin(brand) & (
        qty * 2 * l.l_partkey.map(cnt) < l.l_partkey.map(sq)
    )
    assert row.n_lines == int(mask.sum())


def test_sole_late_suppliers_counts_sole_orders(spark):
    rows = REGISTRY["sole_late_suppliers"].spark(spark, SF).collect()
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o = o[o.o_orderstatus == "F"]
    m = l.merge(o[["o_orderkey", "o_orderdate"]], left_on="l_orderkey", right_on="o_orderkey")
    late = m[m.l_shipdate > m.o_orderdate + pd.Timedelta(days=60)][
        ["l_orderkey", "l_suppkey"]
    ].drop_duplicates()
    per_order = late.groupby("l_orderkey").l_suppkey.nunique()
    sole_orders = set(per_order[per_order == 1].index)
    sole = late[late.l_orderkey.isin(sole_orders)]
    want = sole.groupby("l_suppkey").size().sort_values(ascending=False)
    got = {r.suppkey: r.numwait for r in rows}
    for k, v in got.items():
        assert want[k] == v
    assert sum(got.values()) <= len(sole_orders)


def test_exact_substring_spans_are_maximal_disjoint(spark):
    pdf = REGISTRY["exact_substring_spans"].spark(spark, SF).toPandas()
    assert len(pdf) > 0
    assert (pdf.span_tokens == pdf.span_end - pdf.span_start).all()
    assert (pdf.span_tokens >= NGRAM_K).all()
    # spans within a doc are disjoint AND non-adjacent (else they'd have
    # merged): next start > previous end
    for _, g in pdf.groupby("doc_id"):
        g = g.sort_values("span_start")
        assert (g.span_start.values[1:] > g.span_end.values[:-1]).all()


def test_exact_substring_spans_windows_only_by_doc(spark):
    plan = _plan(REGISTRY["exact_substring_spans"].spark(spark, SF))
    # Every window partitions by doc_id (bounded by one document's
    # length); gram document-frequency is a groupBy + join-back, never
    # a window over the gram hash.
    assert "windowspecdefinition(h" not in plan
    assert "windowspecdefinition(doc_id" in plan


def test_token_pmi_lift_recompute(spark):
    pdf = REGISTRY["token_pmi_pairs"].spark(spark, SF).toPandas()
    assert len(pdf) == 50
    # exact-integer operands ship in the output: recompute lift from them
    lift = (pdf.cxy * pdf.n_tok * pdf.n_tok).astype(float) / (
        pdf.m_bi * pdf.cx * pdf.cy
    ).astype(float)
    assert (lift == pdf.lift).all()
    assert (pdf.lift.values[:-1] >= pdf.lift.values[1:]).all()


def test_token_pmi_plan_is_take_ordered(spark):
    plan = _plan(REGISTRY["token_pmi_pairs"].spark(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_source_overlap_matrix_recompute(spark):
    import re

    pdf = REGISTRY["source_overlap_matrix"].spark(spark, SF).toPandas()
    assert (pdf.n_common <= pdf[["n_s1", "n_s2"]].min(axis=1)).all()
    assert ((pdf.jaccard > 0) & (pdf.jaccard <= 1)).all()
    docs = pd.read_parquet(f"{SF}/documents.parquet")

    def shingles(src):
        out = set()
        for t in docs[docs.source == src].text:
            ws = [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]
            out |= {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        return out

    row = pdf.iloc[0]
    a, b = shingles(row.s1), shingles(row.s2)
    assert row.n_s1 == len(a) and row.n_s2 == len(b)
    assert row.n_common == len(a & b)
    assert abs(row.jaccard - len(a & b) / len(a | b)) < 1e-12


def test_bpe_fit_matches_reference_bpe(spark):
    """The 4 learned merges equal a textbook Python BPE over the same
    word-frequency table (Sennrich et al. algorithm 1)."""
    import re
    from collections import Counter

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    vocab = Counter()
    for t in docs.text:
        vocab.update(w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w)
    segs = {w: list(w) for w in vocab}
    want = []
    for _ in range(4):
        pc = Counter()
        for w, f in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        # max count, tie-break lexicographic on "a b"
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        want.append((a, b, a + b, cnt))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    got = [
        (r.left_sym, r.right_sym, r.merged, r.weighted_count)
        for r in REGISTRY["bpe_fit"].spark(spark, SF).collect()
    ]
    assert got == want


def test_forecast_revenue_pushes_all_filters(spark):
    plan = _plan(REGISTRY["forecast_revenue_change"].spark(spark, SF))
    # Q6's point: every predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert plan.count("Exchange") <= 1  # only the 1-row final combine


def test_nation_volume_is_bilateral(spark):
    rows = REGISTRY["nation_volume_shipping"].spark(spark, SF).collect()
    assert rows
    pairs = {(r.supp_nation, r.cust_nation) for r in rows}
    assert pairs <= {("NATION_3", "NATION_9"), ("NATION_9", "NATION_3")}
    assert len(pairs) == 2  # both directions flow at sf0.01


def test_market_share_recompute(spark):
    rows = REGISTRY["market_share"].spark(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.total_volume > 0


def test_shipmode_counts_partition(spark):
    rows = REGISTRY["shipmode_priority_counts"].spark(spark, SF).collect()
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    m = l.merge(o[["o_orderkey", "o_orderdate", "o_orderpriority"]],
                left_on="l_orderkey", right_on="o_orderkey")
    m = m[(m.l_shipdate >= pd.Timestamp("1996-01-01"))
          & (m.l_shipdate < pd.Timestamp("1997-01-01"))
          & (m.l_shipdate > m.o_orderdate + pd.Timedelta(days=45))]
    hi = m.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
    for r in rows:
        sel = m.l_linestatus == r.line_status
        assert r.high_priority_count == int((sel & hi).sum())
        assert r.low_priority_count == int((sel & ~hi).sum())


def test_promo_share_one_pass(spark):
    df = REGISTRY["promo_revenue_share"].spark(spark, SF)
    row = df.collect()[0]
    assert 0.0 < row.promo_revenue_pct < 100.0
    # conditional-sum ratio: ONE scan of lineitem, not two filtered aggs
    # (count in the final plan only — AQE's string repeats the initial plan)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 2  # lineitem + the broadcast part dim


def test_disjunctive_revenue_matches_pandas(spark):
    row = REGISTRY["disjunctive_discount_revenue"].spark(spark, SF).collect()[0]
    l = pd.read_parquet(f"{SF}/lineitem.parquet")
    p = pd.read_parquet(f"{SF}/part.parquet")
    m = l.merge(p[["p_partkey", "p_brand", "p_size"]], left_on="l_partkey", right_on="p_partkey")
    c1 = (m.p_brand == "Brand#1") & m.p_size.between(1, 10) & m.l_quantity.between(1, 20)
    c2 = (m.p_brand == "Brand#2") & m.p_size.between(5, 20) & m.l_quantity.between(10, 30)
    c3 = (m.p_brand == "Brand#3") & m.p_size.between(15, 40) & m.l_quantity.between(20, 40)
    sel = m[c1 | c2 | c3]
    assert row.n_lines == len(sel)
    cents = (sel.l_extendedprice * 100).round().astype("int64")
    pct = 100 - (sel.l_discount * 100).round().astype("int64")
    assert round(row.revenue * 10000) == int((cents * pct).sum())
