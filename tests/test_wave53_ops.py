"""Wave-53 plans: ratio-metric jackknife + RM3 query expansion —
independent Python recounts beyond the DuckDB value oracle."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd

SF = "/root/testdata/sf0.001"


def test_jackknife_recount(spark):
    from clinical_data_platform_spark.plans.stats import (
        _JK_BUCKETS,
        ratio_metric_jackknife,
    )

    r = ratio_metric_jackknife(spark, SF).collect()[0]
    ev = pd.read_parquet(f"{SF}/events.parquet", columns=["user_id", "value"])
    ev["cents"] = (ev.value * 100.0).round().astype("int64")
    per_u = ev.groupby("user_id").agg(
        n_ev=("cents", "size"), c_sum=("cents", "sum")
    )
    buckets = defaultdict(lambda: [0, 0])
    for uid, row in per_u.iterrows():
        b = int(hashlib.md5(str(uid).encode()).hexdigest()[:6], 16) % _JK_BUCKETS
        buckets[b][0] += int(row["n_ev"])
        buckets[b][1] += int(row["c_sum"])
    k = len(buckets)
    tn = sum(v[0] for v in buckets.values())
    tc = sum(v[1] for v in buckets.values())
    loo = [
        math.floor((tc - ce) / (tn - ne) * 1e6) for ne, ce in buckets.values()
    ]
    sr = sum(loo)
    ss = sum(math.floor((x - sr / k) ** 2 / 1e6) for x in loo)
    assert r.k_buckets == k
    assert r.n_events == tn
    assert r.ratio_dollars == math.floor(tc / tn * 1e4) / 1e6
    se = math.sqrt((k - 1) / k * ss / 1e6) / 1e4
    assert abs(r.jackknife_se_dollars - round(se, 6)) < 1e-6
    assert r.jackknife_se_dollars > 0


def test_rm3_recount(spark):
    from clinical_data_platform_spark.plans.textops import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _RM3_EXP_TERMS,
        _RM3_FB_DOCS,
        rm3_query_expansion,
    )

    got = rm3_query_expansion(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = {
        r.doc_id: r.text.strip().lower().split()
        for r in docs.itertuples()
        if r.text.strip()
    }
    n_docs = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n_docs
    post = {d: Counter(ws) for d, ws in toks.items()}
    t6 = lambda v: math.floor(v * 1e6) / 1e6  # noqa: E731

    def bm25(terms):
        df = Counter(t for d in post.values() for t in d if t in terms)
        out = {}
        hits = {}
        for d, cnt in post.items():
            s = 0.0
            h = 0
            for t in terms:
                c = cnt.get(t, 0)
                if not c:
                    continue
                h += 1
                idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * c / (
                    c + _BM25_K1 * (1 - _BM25_B + _BM25_B * len(toks[d]) / avgdl)
                )
            if h:
                out[d] = t6(s)
                hits[d] = h
        return out, hits

    base, _ = bm25(set(_BM25_TERMS))
    rank0 = {
        d: i + 1
        for i, d in enumerate(sorted(base, key=lambda d: (-base[d], d)))
    }
    fb = [d for d, r in rank0.items() if r <= _RM3_FB_DOCS]
    rm1 = defaultdict(float)
    for d in fb:
        for t, c in post[d].items():
            rm1[t] += c / len(toks[d])
    cand = [
        (t6(w), t) for t, w in rm1.items() if t not in _BM25_TERMS
    ]
    cand.sort(key=lambda p: (-p[0], p[1]))
    expansion = [t for _, t in cand[:_RM3_EXP_TERMS]]
    terms1 = set(expansion) | set(_BM25_TERMS)
    exp_scores, exp_hits = bm25(terms1)
    want = sorted(exp_scores, key=lambda d: (-exp_scores[d], d))[:_RM3_FB_DOCS]
    assert [r.doc_id for r in got] == want
    for r in got:
        assert abs(r.bm25_expanded - exp_scores[r.doc_id]) < 2e-6
        assert r.n_terms_hit == exp_hits[r.doc_id]
        assert r.rank_original == rank0.get(r.doc_id, 0)


def test_rm3_expansion_changes_candidates(spark):
    """Value-bearing check: the expanded query retrieves at least one
    document the base query missed entirely (rank_original = 0) or
    reorders the base top-10."""
    from clinical_data_platform_spark.plans.textops import rm3_query_expansion

    got = rm3_query_expansion(spark, SF).collect()
    originals = [r.rank_original for r in got]
    assert any(r == 0 for r in originals) or originals != sorted(
        [r for r in originals if r > 0]
    )


def test_rm3_doc_lengths_null_and_empty_text(spark):
    """A NULL-text document keeps its row with a NULL doclen, so avg()
    leaves it out of avgdl (the oracle's len(NULL)); an empty-text
    document has no postings and a doclen of 0, which avgdl counts."""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.functions.text import tokens
    from clinical_data_platform_spark.plans.textops import _rm3_doc_lengths

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, ""), (4, "c")], "doc_id long, text string"
    )
    post = (
        docs.select("doc_id", F.explode(tokens(F.lower("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = _rm3_doc_lengths(docs, post)
    assert {r.doc_id: r.doclen for r in dl.collect()} == {1: 3, 2: None, 3: 0, 4: 1}
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")).first()
    assert (stats.n, stats.avgdl) == (4, 4 / 3)
