"""Session-8 additions: graph contraction (quotient graph), global
transitivity, rich-club coefficient, and the composite quality filter —
each vs a pure-Python replay plus hand-built edge-case fixtures."""

import random
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from graph_python_spark.algorithms import contract_graph, rich_club, transitivity
from graph_python_spark.pipeline.text import quality_filter


def edge_df(spark, triples):
    return spark.createDataFrame(
        [(int(a), int(b), int(v)) for a, b, v in triples], "i long, j long, v long")


def rand_graph(n=40, m=160, seed=7):
    rng = random.Random(seed)
    return list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


# ---------------------------------------------------------------------------
# contract_graph
# ---------------------------------------------------------------------------
def test_contract_drop_unmapped(spark):
    edges = edge_df(spark, [(1, 2, 5), (2, 1, 1), (3, 4, 2), (1, 4, 7), (9, 1, 3)])
    mapping = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 11), (4, 11)], "id long, group long")
    out = {(r.gi, r.gj): r.w for r in contract_graph(edges, mapping).collect()}
    # 1→2 and 2→1 collapse into self-loop (dropped); 3→4 self-loop dropped;
    # 1→4 crosses groups; 9→1 touches an unmapped vertex (dropped)
    assert out == {(10, 11): 7}


def test_contract_keep_unmapped_and_self_loops(spark):
    edges = edge_df(spark, [(1, 2, 5), (9, 1, 3), (9, 9, 4)])
    mapping = spark.createDataFrame([(1, 10), (2, 10)], "id long, group long")
    out = {(r.gi, r.gj): r.w
           for r in contract_graph(edges, mapping, drop_self_loops=False,
                                   unmapped="keep").collect()}
    # unmapped vertex 9 becomes singleton group -(9+1) = -10
    assert out == {(10, 10): 5, (-10, 10): 3, (-10, -10): 4}


def test_contract_random_differential(spark):
    pairs = rand_graph(n=60, m=400, seed=13)
    edges = edge_df(spark, [(a, b, a + b + 1) for a, b in pairs])
    groups = {v: v % 7 for v in range(60)}
    mapping = spark.createDataFrame(list(groups.items()), "id long, group long")
    expect = Counter()
    for a, b in pairs:
        ga, gb = groups[a], groups[b]
        if ga != gb:
            expect[(ga, gb)] += a + b + 1
    got = {(r.gi, r.gj): r.w for r in contract_graph(edges, mapping).collect()}
    assert got == dict(expect)


# ---------------------------------------------------------------------------
# transitivity / rich_club
# ---------------------------------------------------------------------------
def _sym(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


def _transitivity_oracle(pairs):
    adj = _sym(pairs)
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    tri = 0
    for a in adj:
        for b in adj[a]:
            if b > a:
                for c in adj[b]:
                    if c > b and c in adj[a]:
                        tri += 1
    return wedges, tri


def test_transitivity_triangle_plus_pendant(spark):
    # triangle 1-2-3 plus pendant 3-4: wedges = 1+1+3+0 = 5, triangles = 1
    e = edge_df(spark, [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1)])
    row = transitivity(e.select("i", "j")).collect()[0]
    assert (row.wedges, row.triangles) == (5, 1)
    assert abs(row.transitivity - 3.0 / 5.0) < 1e-9


def test_transitivity_random_differential(spark):
    pairs = rand_graph(n=30, m=180, seed=5)
    wedges, tri = _transitivity_oracle(pairs)
    row = transitivity(edge_df(spark, [(a, b, 1) for a, b in pairs])
                       .select("i", "j")).collect()[0]
    assert (row.wedges, row.triangles) == (wedges, tri)


def test_rich_club_star_plus_clique(spark):
    # K4 on {1,2,3,4} (deg 3 each) + star center 1 to leaves 10..15
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs += [(1, leaf) for leaf in range(10, 16)]
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    rows = {r.k: r for r in rich_club(e, thresholds=(1, 2, 5)).collect()}
    # deg: v1 = 9, v2..v4 = 3, leaves = 1
    # k=1: nodes {1,2,3,4} (deg>1), edges among them = 6 (K4) → φ = 1.0
    assert rows[1].n_nodes == 4 and rows[1].n_edges == 6
    assert abs(rows[1].rich_club - 1.0) < 1e-9
    # k=2: same club
    assert rows[2].n_nodes == 4 and rows[2].n_edges == 6
    # k=5: only the hub qualifies → degenerate club, φ = 0
    assert rows[5].n_nodes == 1 and rows[5].n_edges == 0
    assert rows[5].rich_club == 0.0


def test_rich_club_random_differential(spark):
    pairs = rand_graph(n=30, m=200, seed=3)
    adj = _sym(pairs)
    canon = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    rows = {r.k: r for r in rich_club(
        edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j"),
        thresholds=(2, 6, 10)).collect()}
    for k in (2, 6, 10):
        nodes = {v for v, nb in adj.items() if len(nb) > k}
        ek = sum(1 for a, b in canon if a in nodes and b in nodes)
        assert rows[k].n_nodes == len(nodes)
        assert rows[k].n_edges == ek


# ---------------------------------------------------------------------------
# quality_filter
# ---------------------------------------------------------------------------
def _doc_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_quality_filter_rules(spark):
    good = "the quick brown fox jumps over a lazy dog while birds sing in trees"
    too_short = "hello world"
    repetitive = " ".join(["spam"] * 40)          # top-token + distinct fail
    long_words = " ".join(["x" * 30] * 20)        # mean word length fail
    rows = {r.doc_id: r for r in quality_filter(
        _doc_df(spark, [good, too_short, repetitive, long_words])).collect()}
    assert rows[0].keep
    assert not rows[1].ok_n_words and not rows[1].keep
    assert not rows[2].ok_distinct and not rows[2].ok_repetition
    assert rows[2].ok_n_words and not rows[2].keep
    assert not rows[3].ok_word_len and not rows[3].keep


def test_quality_filter_empty_doc(spark):
    rows = quality_filter(_doc_df(spark, ["", "   "])).collect()
    for r in rows:
        assert r.n_words == 0 and not r.keep
        assert not r.ok_word_len and not r.ok_distinct and not r.ok_repetition


# ---------------------------------------------------------------------------
# duplicate_spans
# ---------------------------------------------------------------------------
def test_duplicate_spans_hand_fixture(spark):
    from graph_python_spark.pipeline.dedup import duplicate_spans

    shared = "a b c d"                       # one shared 4-token window
    d0 = shared + " x1 x2 x3"                # windows at offsets 1..4
    d1 = "y0 " + shared + " y1 y2"           # shares only the 'a b c d' window
    d2 = "z0 z1 z2"                          # too short for any window
    rows = {r.doc_id: r for r in duplicate_spans(
        _doc_df(spark, [d0, d1, d2]), width=4, min_docs=2).collect()}
    assert rows[0].n_spans == 4 and rows[0].n_dup_spans == 1
    assert rows[1].n_spans == 4 and rows[1].n_dup_spans == 1
    assert rows[2].n_spans == 0 and rows[2].n_dup_spans == 0
    assert rows[2].dup_ratio == 0.0
    assert abs(rows[0].dup_ratio - 0.25) < 1e-9


def test_duplicate_spans_differential(spark):
    from collections import Counter

    from graph_python_spark.pipeline.dedup import duplicate_spans

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
             for _ in range(40)]
    W = 5
    per_doc = []
    for t in texts:
        toks = [x for x in t.split(" ") if x]
        wins = {" ".join(toks[i:i + W]) for i in range(len(toks) - W + 1)}
        per_doc.append(wins)
    df_count = Counter(w for wins in per_doc for w in wins)
    rows = {r.doc_id: r for r in duplicate_spans(
        _doc_df(spark, texts), width=W, min_docs=2).collect()}
    for i, wins in enumerate(per_doc):
        dup = sum(1 for w in wins if df_count[w] >= 2)
        assert rows[i].n_spans == len(wins), i
        assert rows[i].n_dup_spans == dup, i


# ---------------------------------------------------------------------------
# click attribution (batch + stream-stream join parity)
# ---------------------------------------------------------------------------
import datetime as dt

EPOCH0 = dt.datetime(2024, 1, 1)


def _ev_df(spark, rows):
    data = [(int(e), EPOCH0 + dt.timedelta(seconds=float(s)), int(u), t, float(v))
            for e, s, u, t, v in rows]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double")


ATTRIB_ROWS = [
    (0, 0, 1, "click", 0.0),
    (1, 100, 1, "click", 0.0),
    (2, 150, 1, "purchase", 9.0),   # attributed to clicks 0 and 1
    (3, 4000, 1, "purchase", 7.0),  # outside 3600s of click 0... in of 1? 4000-100=3900 > 3600 → none
    (4, 50, 2, "purchase", 5.0),    # user 2 has no click before
    (5, 60, 2, "click", 0.0),
    (6, 60, 3, "click", 0.0),
    (7, 60, 3, "purchase", 1.0),    # tie: strict < excludes
    (8, 3660, 3, "purchase", 2.0),  # exactly horizon after click 6 → included (<=)
]


def _expected_attrib():
    return {(1, 2, 0), (1, 2, 1), (3, 8, 6)}


def test_click_attribution_batch(spark):
    from graph_python_spark.pipeline.temporal import click_attribution

    out = click_attribution(_ev_df(spark, ATTRIB_ROWS), horizon_seconds=3600)
    got = {(r.user_id, r.purchase_id, r.click_id) for r in out.collect()}
    assert got == _expected_attrib()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_stream_click_attribution_matches_batch(spark, tmp_path):
    from graph_python_spark.streaming.streams import (
        run_to_memory, stream_click_attribution)

    path = str(tmp_path / "attrib_events")
    _ev_df(spark, ATTRIB_ROWS).withColumn("props", F.lit("{}")) \
        .select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.parquet(path)
    out = stream_click_attribution(spark, path, horizon_seconds=3600,
                                   watermark="1 hour")
    run_to_memory(out, "sattrib", "append")
    got = {(r.user_id, r.purchase_id, r.click_id)
           for r in spark.sql("SELECT * FROM sattrib").collect()}
    assert got == _expected_attrib()


# ---------------------------------------------------------------------------
# Weisfeiler-Lehman fingerprints
# ---------------------------------------------------------------------------
def _wl_oracle(pairs, rounds):
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    adj = _sym(pairs)
    labels = {v: md5(str(len(nb))) for v, nb in adj.items()}
    for _ in range(rounds):
        labels = {
            v: md5(labels[v] + "|" + ",".join(sorted(labels[u] for u in adj[v])))
            for v in adj
        }
    return labels


def test_wl_distinguishes_path_endpoints(spark):
    from graph_python_spark.algorithms.wl import wl_fingerprints

    # path 1-2-3-4-5: by symmetry {1,5}, {2,4} share labels, 3 unique
    e = edge_df(spark, [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)])
    out = {r.id: r.label for r in wl_fingerprints(e.select("i", "j"), rounds=2).collect()}
    assert out[1] == out[5] and out[2] == out[4]
    assert len({out[1], out[2], out[3]}) == 3


def test_wl_differential(spark):
    from graph_python_spark.algorithms.wl import wl_fingerprints

    pairs = rand_graph(n=25, m=90, seed=17)
    want = _wl_oracle(pairs, rounds=2)
    got = {r.id: r.label for r in wl_fingerprints(
        edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j"),
        rounds=2).collect()}
    assert got == want


def test_wl_histogram_sums_to_vertices(spark):
    from graph_python_spark.algorithms.wl import wl_label_histogram

    pairs = rand_graph(n=25, m=90, seed=17)
    n_verts = len(_sym(pairs))
    hist = wl_label_histogram(
        edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j"),
        rounds=1).collect()
    assert sum(r.n_vertices for r in hist) == n_verts


# ---------------------------------------------------------------------------
# weighted PageRank
# ---------------------------------------------------------------------------
def _prw_oracle(triples, iters, damping=0.85):
    import numpy as np

    w = {}
    for i, j, v in triples:
        w[(i, j)] = w.get((i, j), 0.0) + float(v)
    ids = sorted({i for i, _, _ in triples} | {j for _, j, _ in triples})
    idx = {v: k for k, v in enumerate(ids)}
    n = len(ids)
    ow = {}
    for (i, _j), v in w.items():
        ow[i] = ow.get(i, 0.0) + v
    P = np.zeros((n, n))
    for (i, j), v in w.items():
        P[idx[j], idx[i]] = damping * v / ow[i]
    teleport = (1.0 - damping) / n
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = teleport + P @ r
    return {ids[k]: r[k] for k in range(n)}


def test_pagerank_weighted_differential(spark):
    from graph_python_spark.algorithms.pagerank import pagerank_weighted_fixed

    rng = random.Random(31)
    triples = [(a, b, rng.randrange(1, 5)) for a, b in rand_graph(n=30, m=150, seed=9)
               if a != b]
    want = _prw_oracle(triples, iters=10)
    got = {r.id: r.score for r in pagerank_weighted_fixed(
        edge_df(spark, triples).withColumn("v", F.col("v").cast("double")),
        iterations=10).collect()}
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_pagerank_weighted_uniform_matches_unweighted(spark):
    from graph_python_spark.algorithms import pagerank_fixed
    from graph_python_spark.algorithms.pagerank import pagerank_weighted_fixed

    pairs = rand_graph(n=25, m=100, seed=21)
    triples = [(a, b, 1) for a, b in pairs if a != b]
    e = edge_df(spark, triples)
    wgt = {r.id: r.score for r in pagerank_weighted_fixed(
        e.withColumn("v", F.col("v").cast("double")), iterations=8).collect()}
    unw = {r.id: r.score for r in pagerank_fixed(
        e.select("i", "j"), iterations=8).collect()}
    assert set(wgt) == set(unw)
    for k in wgt:
        assert abs(wgt[k] - unw[k]) < 1e-9, k


# ---------------------------------------------------------------------------
# degree quantiles / stream-static enrichment
# ---------------------------------------------------------------------------
def test_degree_quantiles_matches_numpy(spark):
    import numpy as np

    from graph_python_spark.algorithms.metrics import degree_quantiles

    pairs = rand_graph(n=40, m=300, seed=41)
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    from collections import Counter
    degs = np.array(sorted(Counter(a for a, _ in pairs).values()), dtype=float)
    rows = {r.p: r.deg_q for r in degree_quantiles(e, probs=(0.5, 0.9)).collect()}
    for p in (0.5, 0.9):
        want = float(np.quantile(degs, p))  # numpy default = linear = type 7
        assert abs(rows[p] - round(want, 6)) < 1e-9, (p, rows[p], want)


def test_stream_enrich_events(spark, tmp_path):
    from graph_python_spark.streaming.streams import (
        run_to_memory, stream_enrich_events)

    path = str(tmp_path / "enrich_events")
    _ev_df(spark, [(0, 0, 1, "click", 1.0), (1, 5, 2, "view", 2.0),
                   (2, 9, 7, "click", 3.0)]) \
        .withColumn("props", F.lit("{}")) \
        .select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .coalesce(1).write.parquet(path)
    dim = spark.createDataFrame([(1, "emea"), (2, "apac")],
                                "user_id long, region string")
    out = stream_enrich_events(spark, path, dim)
    run_to_memory(out, "senrich", "append")
    got = {r.event_id: r.region for r in spark.sql("SELECT * FROM senrich").collect()}
    assert got == {0: "emea", 1: "apac", 2: None}


def test_vertex_features_differential(spark):
    from graph_python_spark.algorithms.metrics import vertex_features

    pairs = rand_graph(n=25, m=120, seed=47)
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    adj = _sym(pairs)
    simple = {(a, b) for a, b in pairs if a != b}
    rows = {r.id: r for r in vertex_features(e).collect()}
    assert set(rows) == set(adj)
    for v, nb in adj.items():
        r = rows[v]
        assert r.degree == len(nb)
        assert r.out_deg == sum(1 for a, _ in simple if a == v)
        assert r.in_deg == sum(1 for _, b in simple if b == v)
        tri = sum(1 for x in nb for y in nb if x < y and y in adj[x])
        assert r.triangles == tri, v
        want = 2.0 * tri / (len(nb) * (len(nb) - 1)) if len(nb) >= 2 else 0.0
        assert abs(r.coeff - want) < 1e-9


# ---------------------------------------------------------------------------
# structural properties
# ---------------------------------------------------------------------------
def test_wl_permutation_invariance(spark):
    """Relabeling vertices must permute WL fingerprints consistently: the
    label multiset is identical and per-vertex labels map through the
    permutation."""
    from graph_python_spark.algorithms.wl import wl_fingerprints

    pairs = rand_graph(n=20, m=70, seed=53)
    perm = {v: (7 * v + 3) % 1009 for v in range(20)}  # injective on 0..19
    orig = {r.id: r.label for r in wl_fingerprints(
        edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j"),
        rounds=2).collect()}
    relab = {r.id: r.label for r in wl_fingerprints(
        edge_df(spark, [(perm[a], perm[b], 1) for a, b in pairs]).select("i", "j"),
        rounds=2).collect()}
    assert {perm[v]: lbl for v, lbl in orig.items()} == relab


def test_contract_weight_conservation(spark):
    """Quotient weights must sum to the total cross-group weight, for any
    mapping (with self-loops kept, to the full total)."""
    from pyspark.sql import functions as F

    pairs = rand_graph(n=50, m=300, seed=59)
    triples = [(a, b, a % 7 + 1) for a, b in pairs]
    edges = edge_df(spark, triples)
    mapping = spark.createDataFrame(
        [(v, v % 5) for v in range(50)], "id long, group long")
    total = sum(v for _, _, v in triples)
    g = contract_graph(edges, mapping, drop_self_loops=False)
    assert g.agg(F.sum("w")).first()[0] == total


def test_approx_distinct_kmv(spark):
    import hashlib

    from graph_python_spark.pipeline.sketches import approx_distinct_kmv

    rng = random.Random(61)
    rows = [("a", rng.randrange(2000)) for _ in range(4000)] + \
           [("b", v) for v in range(5)]
    df = spark.createDataFrame(rows, "grp string, val long")
    out = {r.grp: r for r in approx_distinct_kmv(df, ["grp"], "val", k=32).collect()}
    # small group: exact
    assert out["b"].n_kept == 5 and out["b"].est_distinct == 5.0
    # large group: matches the pure-Python replay of the same sketch, and
    # lands within 3 standard errors (1/sqrt(k-2)) of the truth
    truth = len({v for g, v in rows if g == "a"})
    digs = sorted(hashlib.md5(str(v).encode()).hexdigest()
                  for v in {v for g, v in rows if g == "a"})[:32]
    want = 31.0 / (int(digs[31][:12], 16) / 16 ** 12)
    assert abs(out["a"].est_distinct - round(want, 6)) < 1e-6
    assert abs(out["a"].est_distinct - truth) / truth < 3 / (30 ** 0.5)


def test_kmv_partitioning_invariance(spark):
    from graph_python_spark.pipeline.sketches import approx_distinct_kmv

    rows = [("g", v % 700) for v in range(3000)]
    df = spark.createDataFrame(rows, "grp string, val long")
    a = approx_distinct_kmv(df.repartition(1), ["grp"], "val", k=16).first()
    b = approx_distinct_kmv(df.repartition(13), ["grp"], "val", k=16).first()
    assert a.est_distinct == b.est_distinct and a.n_kept == b.n_kept


# ---------------------------------------------------------------------------
# coreness (h-index fixpoint)
# ---------------------------------------------------------------------------
def _coreness_oracle_simple(pairs):
    """Exact coreness via repeated k-core peeling (unambiguous)."""
    base = {v: set(nb) for v, nb in _sym(pairs).items()}
    core = {v: 0 for v in base}
    k = 1
    while True:
        # k-core: peel vertices with degree < k until fixpoint
        adj = {v: set(nb) for v, nb in base.items()}
        changed = True
        while changed:
            dead = [v for v, nb in adj.items() if len(nb) < k]
            changed = bool(dead)
            for v in dead:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
        if not adj:
            break
        for v in adj:
            core[v] = k
        k += 1
    return core


def test_coreness_converges_to_exact(spark):
    from graph_python_spark.algorithms.kcore import coreness_rounds

    pairs = rand_graph(n=30, m=200, seed=67)
    want = _coreness_oracle_simple(pairs)
    got = {r.id: r.coreness for r in coreness_rounds(
        edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j"),
        rounds=20).collect()}
    assert got == want


def test_coreness_monotone_rounds(spark):
    """Estimates only decrease round over round and never drop below the
    true coreness."""
    from graph_python_spark.algorithms.kcore import coreness_rounds

    pairs = rand_graph(n=25, m=140, seed=71)
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    exact = _coreness_oracle_simple(pairs)
    c2 = {r.id: r.coreness for r in coreness_rounds(e, rounds=2).collect()}
    c5 = {r.id: r.coreness for r in coreness_rounds(e, rounds=5).collect()}
    for v in exact:
        assert c2[v] >= c5[v] >= exact[v]


def test_bigram_logprob_differential(spark):
    import math
    from collections import Counter

    from graph_python_spark.pipeline.text import bigram_logprob_scores

    texts = ["a b a b c", "a b", "c c c c", "x", ""]
    docs = [[t for t in s.split(" ") if t] for s in texts]
    bgs = [list(zip(d, d[1:])) for d in docs]
    cbg = Counter(b for doc in bgs for b in doc)
    cw1 = Counter(b[0] for doc in bgs for b in doc)
    rows = {r.doc_id: r for r in bigram_logprob_scores(
        _doc_df(spark, texts)).collect()}
    for i, doc_bg in enumerate(bgs):
        assert rows[i].n_bigrams == len(doc_bg)
        if doc_bg:
            want = sum(math.log(cbg[b] / cw1[b[0]]) for b in doc_bg) / len(doc_bg)
            assert abs(rows[i].mean_logprob - round(want, 6)) < 1e-9, i
        else:
            assert rows[i].mean_logprob == 0.0


def test_vocab_topk(spark):
    from graph_python_spark.pipeline.text import vocab_topk

    rows = vocab_topk(_doc_df(spark, ["a a a b", "a b c", "b"]), k=2).collect()
    assert [(r.tok, r.n_occurrences, r.n_docs) for r in rows] == \
        [("a", 4, 2), ("b", 3, 3)]


def test_seeded_label_propagation(spark):
    from graph_python_spark.algorithms.labelprop import seeded_label_propagation

    pairs = rand_graph(n=30, m=120, seed=73)
    adj = _sym(pairs)
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    seed_ids = sorted(adj)[:4]
    seeds = spark.createDataFrame([(v, v * 10) for v in seed_ids],
                                  "id long, label long")
    got = {r.id: r.label for r in seeded_label_propagation(
        e, seeds, rounds=3).collect()}
    # pure-Python replay of the synchronous clamped sweep
    lab = {v: v * 10 for v in seed_ids}
    for _ in range(3):
        from collections import Counter
        new = dict(lab)
        for v in adj:
            if v in seed_ids:
                continue
            cnt = Counter(lab[u] for u in adj[v] if u in lab)
            if cnt:
                best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                new[v] = best
        lab = new
    assert got == lab
    for v in seed_ids:
        assert got[v] == v * 10  # clamped


def test_salsa_authority_limit(spark):
    """On a connected bipartite support, SALSA authority converges to
    din/Σdin — check on a small hub-spoke fixture plus a NumPy replay."""
    import numpy as np

    from graph_python_spark.algorithms.centrality import salsa_fixed

    pairs = [(1, 10), (2, 10), (3, 10), (1, 11), (2, 12), (3, 12), (1, 12)]
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    rows = {r.id: r for r in salsa_fixed(e, iterations=40).collect()}
    din = Counter(b for _, b in pairs)
    total = sum(din.values())
    for j, d in din.items():
        assert abs(rows[j].auth - d / total) < 1e-6, j


def test_salsa_differential(spark):
    import numpy as np

    from graph_python_spark.algorithms.centrality import salsa_fixed

    pairs = [p for p in rand_graph(n=20, m=80, seed=79)]
    e = edge_df(spark, [(a, b, 1) for a, b in pairs]).select("i", "j")
    eb = sorted(set(pairs))
    ids = sorted({v for p in eb for v in p})
    idx = {v: k for k, v in enumerate(ids)}
    din = Counter(b for _, b in eb)
    dout = Counter(a for a, _ in eb)
    a = {v: 1.0 for v in ids}
    h = {}
    for _ in range(5):
        h = {v: 0.0 for v in ids}
        for i, j in eb:
            h[i] += a[j] * (1.0 / din[j])
        a = {v: 0.0 for v in ids}
        for i, j in eb:
            a[j] += h[i] * (1.0 / dout[i])
    hs, as_ = sum(h.values()), sum(a.values())
    rows = {r.id: r for r in salsa_fixed(e, iterations=5).collect()}
    for v in ids:
        assert abs(rows[v].hub - h[v] / hs) < 1e-9, v
        assert abs(rows[v].auth - a[v] / as_) < 1e-9, v
