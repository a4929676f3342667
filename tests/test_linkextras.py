"""Differential tests for the round-2 link-analysis additions (HITS,
personalized PageRank, k-core, neighborhood Jaccard) vs NumPy oracles on
the reference fixture graphs plus a seeded random graph."""

import random

import numpy as np
from pyspark.sql import functions as F

from graph_python_spark.algorithms import (hits_fixed, jaccard_neighbors,
                                           kcore, ppr_fixed)
from graph_python_spark.oracles import algos as O
from tests.fixtures import CC12_COLS, CC12_N, CC12_ROWS, K4_EDGES, PR5_COLS, PR5_N, PR5_ROWS


def edge_df(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "i long, j long")


def rand_graph(n=40, m=160, seed=7):
    rng = random.Random(seed)
    return list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def test_hits_pr5(spark):
    pairs = list(zip(PR5_ROWS, PR5_COLS))
    got = {r["id"]: (r["hub"], r["auth"])
           for r in hits_fixed(edge_df(spark, pairs), iterations=8).collect()}
    hub, auth = O.hits_l1(pairs, PR5_N, iterations=8)
    assert set(got) == set(range(PR5_N))
    for v in range(PR5_N):
        assert np.isclose(got[v][0], hub[v], atol=1e-9)
        assert np.isclose(got[v][1], auth[v], atol=1e-9)


def test_hits_random(spark):
    pairs = rand_graph()
    n = max(max(p) for p in pairs) + 1
    got = {r["id"]: (r["hub"], r["auth"])
           for r in hits_fixed(edge_df(spark, pairs), iterations=6).collect()}
    hub, auth = O.hits_l1(pairs, n, iterations=6)
    for v, (gh, ga) in got.items():
        assert np.isclose(gh, hub[v], atol=1e-9)
        assert np.isclose(ga, auth[v], atol=1e-9)
    # vertices absent from the edge list simply don't exist in the frame;
    # every present vertex must be there
    present = {v for p in pairs for v in p}
    assert set(got) == present


def test_ppr_pr5(spark):
    pairs = list(zip(PR5_ROWS, PR5_COLS))
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["score"]
           for r in ppr_fixed(edge_df(spark, pairs), seeds, iterations=6).collect()}
    want = O.ppr_fixed(pairs, PR5_N, [0], iterations=6)
    for v in range(PR5_N):
        assert np.isclose(got.get(v, 0.0), want[v], atol=1e-12)
    assert all(s > 0 for s in got.values())  # sparse result: support only


def test_ppr_multi_seed_random(spark):
    pairs = rand_graph(seed=13)
    n = max(max(p) for p in pairs) + 1
    seeds = [1, 5, 9]
    got = {r["id"]: r["score"]
           for r in ppr_fixed(edge_df(spark, pairs),
                              spark.createDataFrame([(s,) for s in seeds], "id long"),
                              iterations=5).collect()}
    want = O.ppr_fixed(pairs, n, seeds, iterations=5)
    for v in range(n):
        assert np.isclose(got.get(v, 0.0), want[v], atol=1e-12)


def test_kcore_k4_plus_tail(spark):
    # K4 with a pendant path hanging off it: 2-core == the K4
    pairs = K4_EDGES + [(3, 4), (4, 5)]
    core, rounds = kcore(edge_df(spark, pairs), k=2)
    got = {r["id"]: r["kdeg"] for r in core.collect()}
    want = O.kcore_peel(pairs, 6, 2)
    assert got == want == {0: 3, 1: 3, 2: 3, 3: 3}
    assert rounds >= 2


def test_kcore_random(spark):
    pairs = rand_graph(n=30, m=90, seed=3)
    n = 30
    for k in (2, 3):
        core, _ = kcore(edge_df(spark, pairs), k=k)
        got = {r["id"]: r["kdeg"] for r in core.collect()}
        assert got == O.kcore_peel(pairs, n, k)


def test_kcore_everything_peels(spark):
    # a tree has an empty 2-core
    pairs = [(0, 1), (1, 2), (2, 3), (0, 4)]
    core, _ = kcore(edge_df(spark, pairs), k=2)
    assert core.count() == 0


def test_jaccard_cc12(spark):
    pairs = list(zip(CC12_ROWS, CC12_COLS))
    got = {(r["u"], r["v"]): (r["common"], r["sim"])
           for r in jaccard_neighbors(edge_df(spark, pairs)).collect()}
    want = O.jaccard_neighbors(pairs, CC12_N)
    assert set(got) == set(want)
    for k_, (c, s) in want.items():
        assert got[k_][0] == c
        assert np.isclose(got[k_][1], s, atol=1e-12)


def test_jaccard_min_sim_and_cap(spark):
    pairs = rand_graph(n=25, m=80, seed=5)
    got = {(r["u"], r["v"]) for r in
           jaccard_neighbors(edge_df(spark, pairs), min_sim=0.3).collect()}
    want = {k for k, (_, s) in O.jaccard_neighbors(pairs, 25, min_sim=0.3).items()}
    assert got == want
    # hub cap: star center is pruned as a wedge hub -> leaf pairs vanish
    star = [(0, k) for k in range(1, 8)]
    capped = jaccard_neighbors(edge_df(spark, star), max_degree=5)
    assert capped.count() == 0


# --- k-truss + clustering coefficient (r2 session additions) -----------


def _truss_cascade_fixture():
    """Triangle strip 0..9 (edges (t,t+1),(t,t+2)) + K5 on 100..104.

    For k=4 the peel CASCADES: chord edges (t,t+2) have support 1 ->
    dropped round 1; the surviving path edges then close no triangles ->
    dropped round 2; only the K5 (support 3 per edge) survives.
    """
    strip = [(t, t + 1) for t in range(9)] + [(t, t + 2) for t in range(8)]
    k5 = [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
    return strip + k5


def test_ktruss_cascade(spark):
    from graph_python_spark.algorithms.ktruss import ktruss

    pairs = _truss_cascade_fixture()
    got, rounds = ktruss(edge_df(spark, pairs), k=4)
    got = {(r["a"], r["b"]): r["support"] for r in got.collect()}
    want = O.ktruss_peel(pairs, 105, 4)
    assert got == want
    assert set(got) == {(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)}
    assert all(s == 3 for s in got.values())
    assert rounds >= 3  # chords, then path edges, then the fixpoint proof


def test_ktruss_random(spark):
    from graph_python_spark.algorithms.ktruss import ktruss

    pairs = rand_graph(n=25, m=180, seed=11)
    for k in (3, 4):
        got, _ = ktruss(edge_df(spark, pairs), k=k)
        got = {(r["a"], r["b"]): r["support"] for r in got.collect()}
        assert got == O.ktruss_peel(pairs, 25, k)


def test_clustering_coefficients(spark):
    from graph_python_spark.algorithms.triangles import clustering_coefficients

    pairs = rand_graph(n=30, m=140, seed=3)
    got = {r["id"]: (r["degree"], r["triangles"], r["coeff"])
           for r in clustering_coefficients(edge_df(spark, pairs)).collect()}
    want = O.clustering_coeffs(pairs, 30)
    assert set(got) == set(want)
    for v, (d, t, c) in want.items():
        assert got[v][0] == d and got[v][1] == t
        assert np.isclose(got[v][2], c, atol=1e-12)


def test_betweenness_path(spark):
    from graph_python_spark.algorithms.centrality import betweenness_sources

    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["bc"]
           for r in betweenness_sources(
               edge_df(spark, [(0, 1), (1, 2), (2, 3)]), seeds).collect()}
    # on a directed path, interior vertex v carries every (0, t) pair past it
    assert got == {1: 2.0, 2: 1.0, 3: 0.0}


def test_betweenness_random(spark):
    from graph_python_spark.algorithms.centrality import betweenness_sources

    pairs = rand_graph(n=30, m=120, seed=5)
    srcs = [0, 1, 2, 3]
    seeds = spark.createDataFrame([(s,) for s in srcs], "id long")
    got = {r["id"]: r["bc"]
           for r in betweenness_sources(edge_df(spark, pairs), seeds,
                                        max_levels=8).collect()}
    want = O.betweenness_sources(pairs, 30, srcs, max_levels=8)
    assert set(got) == set(want)
    for v, b in want.items():
        assert np.isclose(got[v], b, atol=1e-9), (v, got[v], b)


def test_mis_random(spark):
    from graph_python_spark.algorithms.mis import maximal_independent_set

    for seed, n, m in [(2, 20, 45), (9, 35, 200), (13, 12, 12)]:
        pairs = rand_graph(n=n, m=m, seed=seed)
        got, _rounds = maximal_independent_set(edge_df(spark, pairs))
        got = {r["id"] for r in got.collect()}
        want, _ = O.luby_mis(pairs, n)
        assert got == want
        # independence + maximality, checked structurally too
        und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        assert not any((min(u, v), max(u, v)) in und
                       for u in got for v in got if u != v)
        touched = {v for p in und for v in p}
        for v in touched - got:
            assert any((min(v, u), max(v, u)) in und for u in got)


def test_mis_falling_priority_path(spark):
    """A path whose priorities fall along it settles one Luby round per
    pair of vertices from the far end: 12 vertices need 6 Luby rounds,
    and ``max_rounds=6`` still returns the whole maximal set although a
    winner's neighbors retire one state round after it wins."""
    from graph_python_spark.algorithms.mis import (PRIO_MOD, PRIO_MULT,
                                                   maximal_independent_set)

    path = sorted(range(100), key=lambda v: -(v * PRIO_MULT % PRIO_MOD))[:12]
    pairs = list(zip(path, path[1:]))
    got, rounds = maximal_independent_set(edge_df(spark, pairs),
                                          max_rounds=6)
    assert {r["id"] for r in got.collect()} == set(path[1::2])
    want, _ = O.luby_mis(pairs, 100)
    assert want == set(path[1::2])
    assert rounds == 12


def test_katz_random(spark):
    from graph_python_spark.algorithms.centrality import katz_fixed

    pairs = rand_graph(n=25, m=100, seed=21)
    got = {r["id"]: r["katz"]
           for r in katz_fixed(edge_df(spark, pairs), iterations=5,
                               alpha=0.08).collect()}
    # NumPy replay of the truncated Neumann series
    n = 25
    A = np.zeros((n, n))
    for a, b in set(pairs):
        A[a, b] = 1.0
    x = np.ones(n)
    for _ in range(5):
        x = 1.0 + 0.08 * (A.T @ x)
    present = {v for p in pairs for v in p}
    assert set(got) == present
    for v in present:
        assert np.isclose(got[v], x[v], atol=1e-9)


def test_scc_basic(spark):
    from graph_python_spark.algorithms.scc import strongly_connected_components

    # two directed cycles bridged one-way + a tail
    pairs = [(0, 1), (1, 2), (2, 0),        # SCC {0,1,2}
             (2, 10), (10, 11), (11, 10),   # SCC {10,11}, reachable only
             (11, 20)]                      # singleton {20}
    got, rounds = strongly_connected_components(edge_df(spark, pairs))
    got = {r["id"]: r["component"] for r in got.collect()}
    assert got == O.scc_labels(pairs, 21)
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20}


def test_scc_random(spark):
    from graph_python_spark.algorithms.scc import strongly_connected_components

    for seed, n, m in [(4, 18, 50), (8, 30, 90)]:
        pairs = rand_graph(n=n, m=m, seed=seed)
        got, _ = strongly_connected_components(edge_df(spark, pairs))
        got = {r["id"]: r["component"] for r in got.collect()}
        assert got == O.scc_labels(pairs, n)


def test_eigenvector_random(spark):
    from graph_python_spark.algorithms.centrality import eigenvector_fixed

    pairs = rand_graph(n=25, m=100, seed=33)
    got = {r["id"]: r["score"]
           for r in eigenvector_fixed(edge_df(spark, pairs),
                                      iterations=6).collect()}
    # NumPy replay: integer power iteration, single end L1 normalization
    n = 25
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in set(pairs):
        A[a, b] = 1
    x = np.ones(n, dtype=np.int64)
    for _ in range(6):
        x = A.T @ x
    exp = x / x.sum()
    present = {v for p in pairs for v in p}
    assert set(got) == present
    for v in present:
        assert got[v] == exp[v]  # exact: integer loop + one double division
    assert np.isclose(sum(got.values()), 1.0)


def _jp_oracle(pairs, rounds=60):
    """Pure-Python replay of deterministic Jones-Plassmann."""
    from graph_python_spark.algorithms.coloring import ROUND_SALT
    from graph_python_spark.algorithms.mis import PRIO_MOD, PRIO_MULT

    def rp(v, t):
        return (((v + (t * ROUND_SALT) % PRIO_MOD) % PRIO_MOD)
                * PRIO_MULT) % PRIO_MOD

    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    unc = set(adj)
    colors = {}
    for t in range(1, rounds + 1):
        if not unc:
            break
        winners = [v for v in unc
                   if all(rp(v, t) < rp(n, t) for n in adj[v] if n in unc)]
        for v in winners:
            used = {colors[n] for n in adj[v] if n in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        unc -= set(winners)
    return colors


def test_coloring_random(spark):
    from graph_python_spark.algorithms.coloring import greedy_coloring

    pairs = rand_graph(n=30, m=120, seed=5)
    got = {r["id"]: r["color"]
           for r in greedy_coloring(edge_df(spark, pairs))[0].collect()}
    exp = _jp_oracle(pairs)
    assert got == exp
    # proper: adjacent vertices never share a color
    for a, b in pairs:
        if a != b:
            assert got[a] != got[b]


def test_coloring_path_and_clique(spark):
    from graph_python_spark.algorithms.coloring import greedy_coloring

    # path 0-1-2-3-4 (2-colorable greedily <= 3) + K4 on 10..13
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4)]
    k4 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    got = {r["id"]: r["color"]
           for r in greedy_coloring(edge_df(spark, pairs + k4))[0].collect()}
    assert got == _jp_oracle(pairs + k4)
    assert len({got[v] for v in range(10, 14)}) == 4  # K4 needs 4 colors


def _kruskal(pairs_w):
    """Independent oracle: Kruskal under the same composite total order —
    unique weights make the MSF unique, so it must equal Boruvka's."""
    from graph_python_spark.algorithms.msf import PACK_V, PACK_W

    canon = {}
    for a, b, w in pairs_w:
        if a == b:
            continue
        u, v = min(a, b), max(a, b)
        key = w * PACK_W + u * PACK_V + v
        if (u, v) not in canon or key < canon[(u, v)][0]:
            canon[(u, v)] = (key, w)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = set()
    for (u, v), (key, w) in sorted(canon.items(), key=lambda kv: kv[1][0]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest.add((u, v, w))
    return forest


def test_msf_random_weights(spark):
    from graph_python_spark.algorithms.msf import boruvka_msf

    rng = random.Random(11)
    pairs_w = [(rng.randrange(30), rng.randrange(30), rng.randrange(1, 9))
               for _ in range(120)]
    df = spark.createDataFrame(
        [(int(a), int(b), int(w)) for a, b, w in pairs_w],
        "i long, j long, w long")
    forest, rounds = boruvka_msf(df)
    got = {(r["u"], r["v"], r["w"]) for r in forest.collect()}
    assert got == _kruskal(pairs_w)


def test_msf_two_components(spark):
    from graph_python_spark.algorithms.msf import boruvka_msf

    # component A: triangle with a heavy edge to skip; component B: a path
    pairs_w = [(0, 1, 1), (1, 2, 2), (0, 2, 5),
               (10, 11, 3), (11, 12, 1)]
    df = spark.createDataFrame(pairs_w, "i long, j long, w long")
    forest, _ = boruvka_msf(df)
    got = {(r["u"], r["v"], r["w"]) for r in forest.collect()}
    assert got == {(0, 1, 1), (1, 2, 2), (10, 11, 3), (11, 12, 1)}
    assert got == _kruskal(pairs_w)


def test_closeness_path(spark):
    from graph_python_spark.algorithms.centrality import closeness_centrality

    # directed path 0 -> 1 -> 2 -> 3, sources {0, 1}
    pairs = [(0, 1), (1, 2), (2, 3)]
    seeds = spark.createDataFrame([(0,), (1,)], "id long")
    got = {r["id"]: (r["n_reached"], r["sum_dist"], r["closeness"])
           for r in closeness_centrality(edge_df(spark, pairs), seeds,
                                         rounds=5).collect()}
    # v=1: d(0,1)=1            -> (1, 1, 1.0)
    # v=2: d(0,2)=2, d(1,2)=1  -> (2, 3, 2/3)
    # v=3: d(0,3)=3, d(1,3)=2  -> (2, 5, 0.4)
    assert got[1] == (1, 1, 1.0)
    assert got[2] == (2, 3, 2.0 / 3.0)
    assert got[3] == (2, 5, 0.4)
    assert 0 not in got  # sources at distance 0 are excluded


def _bfs_oracle(pairs, source, rounds):
    """Pure-python BFS capped at `rounds` hops (directed)."""
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    dist = {source: 0}
    frontier = [source]
    for depth in range(1, rounds + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    return dist


def test_landmark_distances_differential(spark):
    from graph_python_spark.algorithms.traversal import landmark_distances

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (1, 5), (5, 6),
             (6, 7), (2, 6), (7, 0), (8, 9)]  # 8,9 unreachable from 0..7
    e = spark.createDataFrame(pairs, "i long, j long")
    lms = [0, 2, 8]
    got = {(r["lm"], r["id"]): r["dist"]
           for r in landmark_distances(e, landmarks=lms, rounds=6).collect()}
    want = {(lm, v): d
            for lm in lms
            for v, d in _bfs_oracle(pairs, lm, 6).items()}
    assert got == want
    assert got[(0, 0)] == 0 and got[(8, 9)] == 1
    assert all((8, v) not in got for v in range(8))  # islands stay apart


def test_landmark_distance_estimate_upper_bounds(spark):
    from graph_python_spark.algorithms.traversal import landmark_distances

    # triangle-inequality sanity on an undirected path graph: the landmark
    # estimate min_L d(u,L)+d(L,v) upper-bounds the true distance and is
    # exact whenever some landmark lies on a shortest path.
    pairs = [(k, k + 1) for k in range(9)] + [(k + 1, k) for k in range(9)]
    e = spark.createDataFrame(pairs, "i long, j long")
    d = {(r["lm"], r["id"]): r["dist"]
         for r in landmark_distances(e, landmarks=[0, 5], rounds=12).collect()}
    for u in range(10):
        for v in range(10):
            est = min(d[(lm, u)] + d[(lm, v)] for lm in (0, 5))
            assert est >= abs(u - v)
    assert min(d[(lm, 2)] + d[(lm, 8)] for lm in (0, 5)) == 6  # 5 on path


def _containment_oracle(texts, n, num, den, cap):
    shingles = {d: {t[i:i + n] for i in range(max(1, len(t) - n + 1))}
                for d, t in texts.items()}
    dfreq = {}
    for s in shingles.values():
        for tok in s:
            dfreq[tok] = dfreq.get(tok, 0) + 1
    kept = {d: {t for t in s if dfreq[t] <= cap} for d, s in shingles.items()}
    out = {}
    ids = sorted(kept)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = len(kept[a] & kept[b])
            mn = min(len(kept[a]), len(kept[b]))
            if inter and inter * den >= mn * num:
                out[(a, b)] = (inter, mn)
    return out


def test_containment_pairs_differential(spark):
    from graph_python_spark.pipeline.dedup import containment_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        # 2 is wholly CONTAINED in 1: containment 1.0 but Jaccard is low
        2: "quick brown fox",
        3: "a completely different document body here",
        4: "the quick brown fox jumps over the lazy dog and sleeps",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["min_sz"])
           for r in containment_pairs(docs, n=8, threshold_num=1,
                                      threshold_den=2, df_cap=10).collect()}
    want = _containment_oracle(texts, 8, 1, 2, 10)
    assert got == want
    assert (1, 2) in got and got[(1, 2)][0] == got[(1, 2)][1]  # sub-doc dup
    assert (2, 3) not in got


def test_merge_near_dups_picks_best_quality(spark):
    from graph_python_spark.pipeline.dedup import merge_near_dups

    # two clusters: {1,2,3} (chain) and {7,8}; 5 is a singleton (no pair)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    scores = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.9), (5, 1.0), (7, 0.2), (8, 0.1)],
        "doc_id long, quality double")
    got = {r["cluster_id"]: (r["keep_doc_id"], r["cluster_size"],
                             r["keep_quality"])
           for r in merge_near_dups(pairs, scores).collect()}
    # cluster 1: quality tie 0.9 between 2 and 3 -> smaller doc_id wins
    assert got == {1: (2, 3, 0.9), 7: (7, 2, 0.2)}


def test_bipartite_sides_differential(spark):
    from graph_python_spark.algorithms.components import bipartite_sides

    # component A: even cycle 0-1-2-3 (bipartite); component B: path 10-11-12;
    # component C: triangle 20-21-22 (odd cycle — parity still well-defined)
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0),
             (10, 11), (11, 12),
             (20, 21), (21, 22), (22, 20)]
    e = spark.createDataFrame(pairs, "i long, j long")
    got = {r["id"]: (r["component"], r["side"])
           for r in bipartite_sides(e, cc_rounds=6, bfs_rounds=6).collect()}
    assert got == {0: (0, 0), 1: (0, 1), 2: (0, 0), 3: (0, 1),
                   10: (10, 0), 11: (10, 1), 12: (10, 0),
                   20: (20, 0), 21: (20, 1), 22: (20, 1)}
    # bipartiteness: components 0 and 10 have no same-side edge; the
    # triangle must expose one (here 21-22)
    sides = {v: s for v, (_, s) in got.items()}
    same = [(a, b) for a, b in pairs if sides[a] == sides[b]]
    assert same == [(21, 22)]


def test_ppr_batch_matches_single_seed_and_linearity(spark):
    from graph_python_spark.algorithms.centrality import ppr_batch, ppr_fixed

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 0), (1, 4)]
    e = spark.createDataFrame(pairs, "i long, j long")
    seeds2 = spark.createDataFrame([(0,), (3,)], "id long")
    batch = {(r["seed"], r["id"]): r["score"]
             for r in ppr_batch(e, seeds2, iterations=5).collect()}
    # single seed: ppr_fixed({s}) IS the batch vector for s
    one = spark.createDataFrame([(0,)], "id long")
    single = {r["id"]: r["score"] for r in ppr_fixed(e, one, iterations=5).collect()}
    for v, sc in single.items():
        assert abs(batch[(0, v)] - sc) < 1e-12
    # linearity: uniform teleport over {0, 3} == mean of the two batch vectors
    both = {r["id"]: r["score"] for r in ppr_fixed(e, seeds2, iterations=5).collect()}
    ids = {i for (_, i) in batch}
    for v in ids:
        mean = (batch.get((0, v), 0.0) + batch.get((3, v), 0.0)) / 2.0
        assert abs(both.get(v, 0.0) - mean) < 1e-12


def test_label_spread_retains_isolated_seeds(spark):
    from graph_python_spark.algorithms.labelprop import seeded_label_propagation

    # two labeled seeds on a path; 99 is an isolated seed (no edges) and
    # must survive every clamp round with its own label
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "i long, j long")
    seeds = spark.createDataFrame([(1, 10), (4, 20), (99, 30)],
                                  "id long, label long")
    got = {r["id"]: r["label"]
           for r in seeded_label_propagation(e, seeds, rounds=3).collect()}
    assert got[99] == 30
    assert got[1] == 10 and got[4] == 20
    assert got[2] in (10, 20) and got[3] in (10, 20)


def _truss_support_oracle(pairs):
    """True per-edge truss support via brute-force peeling: theta(e) =
    max s such that e survives iterated removal of edges closing < s
    triangles."""
    def support(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    base = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    theta = {e: 0 for e in base}
    s, cur = 1, set(base)
    while cur:
        while True:
            sup = support(cur)
            drop = {e for e in cur if sup[e] < s}
            if not drop:
                break
            cur -= drop
        for e in cur:
            theta[e] = s
        s += 1
    return theta


def test_trussness_differential(spark):
    from graph_python_spark.algorithms.ktruss import trussness_rounds

    # deterministic pseudo-random graph on 14 vertices + a pendant path
    pairs = sorted({(i * 7 % 14, (i * i + 3) % 14) for i in range(40)}
                   | {(0, 20), (20, 21)})
    pairs = [(a, b) for a, b in pairs if a != b]
    e = spark.createDataFrame(pairs, "i long, j long")
    got = {(r["a"], r["b"]): r["trussness"]
           for r in trussness_rounds(e, rounds=10).collect()}
    want = {e_: t for e_, t in _truss_support_oracle(pairs).items() if t > 0}
    assert got == want
    assert all(t >= 1 for t in got.values())
