"""Graph views and the adjacency table: each view against a plain-Python
reference, hub chunking, and PageRank over chunked hubs."""

import re


def test_adjacency_table_hub_chunking(spark):
    from graph_python_spark.operators.blocks import adjacency_table

    # hub vertex 0 -> 25 distinct neighbors (with duplicate edges), plus a
    # small vertex; max_chunk=10 must segment the hub into 3 bounded rows
    # all carrying the TOTAL degree, with disjoint sorted slices
    edges = [(0, d) for d in range(25)] + [(0, d) for d in range(0, 25, 5)]
    edges += [(7, 3), (7, 4)]
    df = spark.createDataFrame(edges, "s long, d long")
    adj = adjacency_table(df, "s", "d", partitions=2, max_chunk=10)
    rows = sorted(adj.collect(), key=lambda r: (r["s"], r["ds"][0]))
    hub = [r for r in rows if r["s"] == 0]
    assert [len(r["ds"]) for r in hub] == [10, 10, 5]
    assert all(r["deg"] == 25 for r in hub)
    assert sorted(x for r in hub for x in r["ds"]) == list(range(25))
    small = [r for r in rows if r["s"] == 7]
    assert len(small) == 1 and list(small[0]["ds"]) == [3, 4] and small[0]["deg"] == 2


def test_pagerank_with_chunked_hubs(spark):
    """PageRank over a graph whose adjacency is force-chunked must equal the
    unchunked run exactly (chunks are disjoint slices; ⊕ associative)."""
    import graph_python_spark.operators.blocks as blocks
    from graph_python_spark.algorithms.pagerank import pagerank_fixed

    edges = [(i, j, 1.0) for i in range(12) for j in range(12)
             if i != j and (i * 7 + j) % 3 != 0]
    e = spark.createDataFrame(edges, "i long, j long, v double") \
        .select("i", "j")
    base = {r["id"]: r["score"]
            for r in pagerank_fixed(e, iterations=8, partitions=2).collect()}

    orig = blocks.adjacency_table

    def chunked(edges, src="s", dst="d", partitions=None, max_chunk=4_000_000):
        return orig(edges, src, dst, partitions, max_chunk=3)

    blocks.adjacency_table = chunked
    try:
        got = {r["id"]: r["score"]
               for r in pagerank_fixed(e, iterations=8, partitions=2).collect()}
    finally:
        blocks.adjacency_table = orig
    assert set(got) == set(base)
    for k in base:
        assert abs(got[k] - base[k]) < 1e-12


# duplicate arcs (1→2 twice), both directions of a pair (2→1), self-loops
# (3→3) and a vertex whose only edge is a self-loop (5); v tells rows apart
VIEW_EDGES = [(1, 2, 10.0), (1, 2, 11.0), (2, 1, 12.0), (2, 3, 13.0),
              (3, 3, 14.0), (3, 4, 15.0), (4, 2, 16.0), (5, 5, 17.0)]


def _exchanges(df) -> int:
    """Shuffle exchanges in a frame's physical plan, counting the build
    plan of any cached relation it reads (printed as an inner child)."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return len(re.findall(r"(?<![A-Za-z])Exchange ", tree))


def test_graph_views(spark):
    """Each view equals its set definition on a graph with duplicates,
    reversed pairs and self-loops, and plans at most one exchange.
    Connected components and label propagation build their adjacency
    straight from the mirrored edges in one exchange (the table's
    collect_set dedupes), and CC keeps the self-loop-only vertex."""
    import graph_python_spark.operators.blocks as blocks
    from graph_python_spark.algorithms.components import connected_components
    from graph_python_spark.algorithms.labelprop import label_propagation
    from graph_python_spark.operators.blocks import (mirror, simple, symmetric,
                                                     undirected, vertex_ids)

    e = spark.createDataFrame(VIEW_EDGES, "i long, j long, v double")
    arcs = {(i, j) for i, j, _ in VIEW_EDGES}
    both = arcs | {(j, i) for i, j in arcs}
    views = [
        (vertex_ids(e), ["id"], {(i,) for pair in arcs for i in pair}),
        (simple(e), ["i", "j"], {(i, j) for i, j in arcs if i != j}),
        (symmetric(e), ["s", "d"], {(i, j) for i, j in both if i != j}),
        (undirected(e), ["a", "b"], {(i, j) for i, j in both if i < j}),
    ]
    for view, columns, ref in views:
        rows = [tuple(r) for r in view.collect()]
        assert view.columns == columns
        assert len(rows) == len(set(rows)) and set(rows) == ref, (columns, rows)
        assert _exchanges(view) <= 1, columns
    # mirror: every row and its reverse, values carried, nothing deduped
    m = mirror(e)
    assert m.columns == ["i", "j", "v"]
    assert sorted(tuple(r) for r in m.collect()) == sorted(
        VIEW_EDGES + [(j, i, v) for i, j, v in VIEW_EDGES])
    assert _exchanges(m) == 0

    orig = blocks.adjacency_table
    built = []

    def recording(*args, **kwargs):
        built.append(orig(*args, **kwargs))
        return built[-1]

    blocks.adjacency_table = recording
    try:
        labels, _ = connected_components(e)
        comp = {r["id"]: r["component"] for r in labels.collect()}
        label_propagation(e, fixed_sweeps=1)
    finally:
        blocks.adjacency_table = orig
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}
    assert [_exchanges(adj) for adj in built] == [1, 1]
    for adj in built:
        adj.unpersist()
