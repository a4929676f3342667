"""Adjacency table: hub chunking and PageRank over chunked hubs."""


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
