"""Key-skew profile, disorder stats, and integer PageRank vs brute force."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.graph import pagerank
from msi_preprocessing_pipeline_spark.operators.profile import (
    disorder_stats, heavy_keys, key_counts, key_profile)


def test_key_profile_matches_numpy(spark):
    rng = random.Random(3)
    rows = [(rng.choice([1, 1, 1, 2, 2, 3, 4, 5, None]),) for _ in range(300)]
    df = spark.createDataFrame(rows, "k long")
    counts = {}
    for (k,) in rows:
        counts[k] = counts.get(k, 0) + 1
    cs = np.array(sorted(counts.values()), dtype=float)
    row = key_profile(df, ["k"], qs=[0.5, 0.9]).collect()[0]
    assert row["n_rows"] == 300
    assert row["n_keys"] == len(counts)
    assert row["max_n"] == int(cs.max())
    assert row["min_n"] == int(cs.min())
    assert row["avg_n"] == pytest.approx(300 / len(counts))
    assert row["top_share"] == pytest.approx(cs.max() / 300)
    assert row["p50_n"] == pytest.approx(np.percentile(cs, 50))
    assert row["p90_n"] == pytest.approx(np.percentile(cs, 90))


def test_heavy_keys_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(k,) for k in [3, 3, 1, 1, 2, 2, 5, 4]], "k long")
    got = [(r["k"], r["n"]) for r in heavy_keys(df, "k", k=4).collect()]
    assert got == [(1, 2), (2, 2), (3, 2), (4, 1)]
    assert key_counts(df, "k").count() == 5
    with pytest.raises(ValueError):
        heavy_keys(df, "k", k=0)


def test_disorder_stats_matches_brute_force(spark):
    rng = random.Random(41)
    ts = [i * 1000 + rng.randint(-5000, 5000) for i in range(400)]
    rows = [(seq, t) for seq, t in enumerate(ts)]
    rows += [(None, 1), (1000, None)]
    df = spark.createDataFrame(rows, "seq long, ms long")
    lates = []
    pm = None
    for t in ts:  # arrival order == seq order
        lates.append(max(0, (pm - t)) if pm is not None else 0)
        pm = t if pm is None else max(pm, t)
    late_only = sorted(l for l in lates if l > 0)
    for width in (1, 7, 100, 10**6):
        row = disorder_stats(df, "seq", "ms", bucket_width=width).collect()[0]
        assert row["n_events"] == 400
        assert row["n_late"] == len(late_only), width
        assert row["frac_late"] == pytest.approx(len(late_only) / 400)
        assert row["max_lateness"] == max(lates)
        assert row["p50_lateness"] == pytest.approx(
            np.percentile(late_only, 50))
        assert row["p99_lateness"] == pytest.approx(
            np.percentile(late_only, 99))
    with pytest.raises(ValueError):
        disorder_stats(df, "seq", "ms", bucket_width=0)


def _py_pagerank(edges, iters, scale=10**12, num=85, den=100):
    nodes = {n for e in edges for n in e}
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {n: scale for n in nodes}
    base = (scale * (den - num)) // den
    for _ in range(iters):
        acc = {n: 0 for n in nodes}
        for s, d in edges:
            acc[d] += r[s] // deg[s]
        r = {n: base + (num * acc[n]) // den for n in nodes}
    return r


def test_pagerank_matches_reference_and_is_partition_invariant(spark):
    rng = random.Random(9)
    edges = list({(rng.randint(1, 25), rng.randint(1, 25))
                  for _ in range(120)})
    # duplicates + nulls must be ignored
    rows = edges + edges[:10] + [(None, 1), (2, None)]
    df = spark.createDataFrame(rows, "s long, d long")
    exp = _py_pagerank(edges, iters=4)
    for reparted in (df, df.repartition(13)):
        got = {r["node"]: r["rank"]
               for r in pagerank(reparted, "s", "d", iters=4).collect()}
        assert got == exp
    total = sum(exp.values())
    assert total <= len(exp) * 10**12  # documented mass bound


def test_pagerank_dangling_and_validation(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "s long, d long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, "s", "d", iters=1).collect()}
    base = (10**12 * 15) // 100
    assert got[1] == base  # no in-edges
    assert got[2] == base + (85 * 10**12) // 100
    assert got[3] == base + (85 * 10**12) // 100
    for kwargs in ({"iters": 0}, {"damp_num": 0}, {"damp_num": 100},
                   {"scale": 10}):
        with pytest.raises(ValueError):
            pagerank(df, "s", "d", **kwargs)


def _brute_triangles(pairs):
    adj = {}
    edges = set()
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        e = (min(a, b), max(a, b))
        if e in edges:
            continue
        edges.add(e)
        adj.setdefault(e[0], set()).add(e[1])
        adj.setdefault(e[1], set()).add(e[0])
    tri = 0
    nodes = sorted(adj)
    for a in nodes:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[b]:
                if c > b and c in adj[a]:
                    tri += 1
    return len(nodes), len(edges), tri


def test_triangles_matches_brute_force(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import triangles
    rng = random.Random(7)
    # random sparse graph + a celebrity hub (node 0 linked to everyone)
    pairs = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(300)]
    pairs += [(0, i) for i in range(1, 41)]
    # direction noise, duplicates, self-loops, nulls
    pairs += [(b, a) for a, b in pairs[:50]] + [(5, 5), (None, 3), (7, None)]
    df = spark.createDataFrame(pairs, "s long, d long")
    n_nodes, n_edges, n_tri = _brute_triangles(pairs)
    row = triangles(df, "s", "d").collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
        n_nodes, n_edges, n_tri)


def test_triangles_known_graphs(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import triangles
    # K4 has 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    row = triangles(spark.createDataFrame(k4, "s long, d long"),
                    "s", "d").collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    # path graph: zero triangles
    row = triangles(spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                          "s long, d long"),
                    "s", "d").collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 3, 0)


def test_clustering_coeff_matches_brute_force(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import (
        clustering_coeff)
    rng = random.Random(13)
    pairs = [(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(120)]
    pairs += [(5, 5), (None, 1), (2, None)]
    df = spark.createDataFrame(pairs, "s long, d long")
    adj = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {r["node"]: r for r in clustering_coeff(df, "s", "d").collect()}
    assert set(got) == set(adj)
    for v, nb in adj.items():
        d = len(nb)
        t = sum(1 for a in nb for b in nb
                if a < b and b in adj[a])
        r = got[v]
        assert (r["degree"], r["n_tri"]) == (d, t), v
        if d < 2:
            assert r["coeff"] is None
        else:
            assert r["coeff"] == pytest.approx(2 * t / (d * (d - 1)))


def test_clustering_coeff_triangle_plus_tail(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import (
        clustering_coeff)
    # triangle 1-2-3 with a pendant 4 hanging off 3
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                               "s long, d long")
    got = {r["node"]: (r["degree"], r["n_tri"], r["coeff"])
           for r in clustering_coeff(df, "s", "d").collect()}
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, pytest.approx(1 / 3))
    assert got[4] == (1, 0, None)


def _brute_kcore(pairs, k):
    adj = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    return {v: len(nb) for v, nb in adj.items()}


def test_kcore_matches_brute_force(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import kcore
    rng = random.Random(31)
    pairs = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(140)]
    pairs += [(1, 1), (None, 2), (3, None)]
    df = spark.createDataFrame(pairs, "s long, d long")
    for k in (2, 3, 5):
        exp = _brute_kcore(pairs, k)
        got = {r["node"]: r["core_degree"]
               for r in kcore(df, "s", "d", k).collect()}
        assert got == exp, k


def test_kcore_empty_and_validation(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import kcore
    # a path graph has no 2-core
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "s long, d long")
    assert kcore(df, "s", "d", 2).count() == 0
    # a triangle IS its own 2-core
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "s long, d long")
    got = {r["node"]: r["core_degree"]
           for r in kcore(tri, "s", "d", 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    with pytest.raises(ValueError):
        kcore(df, "s", "d", 0)
    with pytest.raises(RuntimeError):
        kcore(spark.createDataFrame([(i, i + 1) for i in range(30)],
                                    "s long, d long"), "s", "d", 2,
              max_iter=2)


# ---------------------------------------------------------------------------
# bfs_hops


def _np_bfs(edges, seeds, max_hops):
    adj = {}
    for u, v in edges:
        if u is None or v is None or u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {v for u in frontier for v in adj.get(u, ())
               if v not in dist}
        if not nxt:
            break
        for v in nxt:
            dist[v] = h
        frontier = nxt
    return dist


def test_bfs_hops_matches_bruteforce(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import bfs_hops

    rng = __import__("numpy").random.default_rng(23)
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, 60, size=(300, 2))]
    edges.append((999, None))  # null endpoint dropped
    seeds = [0, 1, 2, 777]     # 777: isolated seed, still hop 0
    edf = spark.createDataFrame(edges, "s long, d long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r.node: r.hops
           for r in bfs_hops(edf, "s", "d", sdf, max_hops=3).collect()}
    assert got == _np_bfs(edges, seeds, 3)
    assert got[777] == 0


def test_bfs_hops_horizon_and_invariance(spark):
    from msi_preprocessing_pipeline_spark.operators.graph import bfs_hops

    chain = [(i, i + 1) for i in range(10)]
    edf = spark.createDataFrame(chain, "s long, d long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.hops
           for r in bfs_hops(edf, "s", "d", sdf, max_hops=4).collect()}
    assert got == {i: i for i in range(5)}  # nodes past the horizon absent
    a = sorted(map(tuple, bfs_hops(edf.repartition(1), "s", "d", sdf,
                                   max_hops=4).collect()))
    b = sorted(map(tuple, bfs_hops(edf.repartition(5), "s", "d", sdf,
                                   max_hops=4).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# benford_profile


def test_benford_profile_exact_and_edges(spark):
    from msi_preprocessing_pipeline_spark.operators.profile import (
        BENFORD_MICRO, benford_profile)

    vals = [1.0, 12.5, 19.0, 2e-4, 0.0, None, -300.0, 9.5e8, 123.456]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r.digit: r for r in benford_profile(df, "x").collect()}
    assert sorted(rows) == list(range(1, 10))
    # quantized-at-1e6 leading digits: 1,1,1,2,(0 dropped),(null),3,9,1
    n = 7
    counts = {1: 4, 2: 1, 3: 1, 9: 1}
    for d in range(1, 10):
        r = rows[d]
        assert r.n_obs == counts.get(d, 0)
        assert r.p_obs_u == counts.get(d, 0) * 1_000_000 // n
        assert r.p_exp_u == BENFORD_MICRO[d - 1]
        assert r.dev_u == r.p_obs_u - r.p_exp_u
    assert sum(BENFORD_MICRO) == 1_000_000


def test_benford_profile_empty(spark):
    from msi_preprocessing_pipeline_spark.operators.profile import (
        benford_profile)

    df = spark.createDataFrame([(None,), (0.0,)], "x double")
    rows = benford_profile(df, "x").collect()
    assert len(rows) == 9
    assert all(r.n_obs == 0 and r.p_obs_u is None and r.dev_u is None
               for r in rows)
