"""Plan + semantics gates for the round-5 text operators: maximal
duplicate spans (exact_substring_spans), PMI collocations
(token_pmi_pairs), the cross-source shingle overlap matrix
(source_overlap_matrix) and the learned BPE merges (bpe_fit).

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
