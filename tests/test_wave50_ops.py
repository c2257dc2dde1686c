"""Wave-50 plan: spectral centrality of the PPMI co-occurrence graph —
independent numpy power-iteration recount beyond the DuckDB value oracle."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

SF = "/root/testdata/sf0.001"


def _edges():
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    uni = Counter()
    bg = Counter()
    for r in docs.itertuples():
        ws = r.text.strip().split()
        uni.update(ws)
        for a, b in zip(ws, ws[1:]):
            if a != b:
                bg[(a, b)] += 1
    total1 = sum(uni.values())
    total2 = sum(bg.values())
    edges = {}
    for (a, b), c in bg.items():
        if c < 5:
            continue
        pmi = math.log(
            (c / total2) / ((uni[a] / total1) * (uni[b] / total1))
        )
        if pmi > 0:
            edges[(a, b)] = round(pmi, 9)
    # both directions can independently pass the filter; the symmetrized
    # multigraph SUMS parallel edges (the join+agg does), so accumulate
    from collections import defaultdict

    sym = defaultdict(float)
    for (a, b), w in edges.items():
        sym[(a, b)] += w
        sym[(b, a)] += w
    return dict(sym)


def test_spectral_recount(spark):
    from clinical_data_platform_spark.plans.collocations import (
        _SPEC_ITERS,
        token_spectral_centrality,
    )

    got = token_spectral_centrality(spark, SF).collect()
    assert len(got) == 20
    sym = _edges()
    nodes = sorted({a for a, _ in sym})
    v = {n: 1.0 for n in nodes}
    for _ in range(_SPEC_ITERS):
        raw = {n: 0.0 for n in nodes}
        for (a, b), w in sym.items():
            raw[a] += w * v[b]
        mx = max(raw.values())
        v = {n: round(raw[n] / mx, 12) for n in nodes}
    want = sorted(
        ((n, round(v[n], 6)) for n in nodes), key=lambda t: (-t[1], t[0])
    )[:20]
    for g, w in zip(got, want):
        assert g.token == w[0], (g, w)
        assert abs(g.loading - w[1]) < 2e-6


def _spec_paths(spark, erows):
    from clinical_data_platform_spark.plans.collocations import (
        _spec_power_distributed,
        _spec_power_driver,
    )

    e = spark.createDataFrame(erows, "w1 string, w2 string, ppmi double")
    dist = [
        (r.token, r.loading)
        for r in _spec_power_distributed(e.localCheckpoint()).collect()
    ]
    return _spec_power_driver(erows), dist


def test_spectral_driver_and_distributed_paths_agree(spark):
    """The size-gated driver replay and the distributed mat-vec loop
    must produce identical top-20 rows on the same edge table. Uses the
    sf0.001 PPMI edges — the real data shape."""
    sym = _edges()  # {(a, b): w} — symmetrized, parallel edges pre-summed
    driver, dist = _spec_paths(spark, [(a, b, w) for (a, b), w in sym.items()])
    assert dist == driver


def test_spectral_paths_agree_on_unsummed_parallel_edges(spark):
    """The symmetrized edge table is a multigraph: when both directions
    of a pair pass the PPMI filter the pair appears twice, un-summed.
    Both paths floor each term into fixed point before summing, so the
    parallel edges and the collect order cannot split them."""
    erows = [
        ("a", "b", 0.1),
        ("a", "b", 0.2),
        ("b", "a", 0.1),
        ("b", "a", 0.2),
        ("a", "c", 1.7),
        ("c", "a", 1.7),
        ("b", "c", 0.3),
        ("c", "b", 0.3),
        ("c", "b", 0.7),
        ("b", "c", 0.7),
    ]
    driver, dist = _spec_paths(spark, erows)
    assert dist == driver and len(driver) == 3
    assert driver == _spec_paths(spark, erows[::-1])[0]


def test_spectral_loadings_in_unit_interval(spark):
    from clinical_data_platform_spark.plans.collocations import (
        token_spectral_centrality,
    )

    rows = token_spectral_centrality(spark, SF).collect()
    assert rows[0].loading == 1.0  # max-normalized
    assert all(0.0 <= r.loading <= 1.0 for r in rows)
    # descending order with deterministic tie-break
    pairs = [(r.loading, r.token) for r in rows]
    assert pairs == sorted(pairs, key=lambda t: (-t[0], t[1]))
