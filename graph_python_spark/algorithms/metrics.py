"""Whole-graph summary metrics: partition modularity and degree
assortativity.

These are the scalar diagnostics every link-graph study reports next to
the algorithm outputs (reference: ``notebooks/Louvain.ipynb`` computes
modularity as trace(C^T A C)/2m minus the degree-square term to score each
contraction level).

Both are single-pass DataFrame aggregations over the symmetric simple
graph (``operators/blocks.symmetric``) — one shuffle for the
degree/community joins, then a global aggregate.  Nothing here is
iterative and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import (simple, symmetric, undirected,
                                                 vertex_ids)
from graph_python_spark.plans.iterate import release


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of the partition ``labels`` (columns id,
    community) over the undirected simple graph under ``edges`` (i, j).

    Q = Σ_c [ intra_c / m2  −  (D_c / m2)² ]  with m2 = 2m the total
    degree, intra_c the number of (directed-symmetric) intra-community
    edge endpoints, D_c the community's total degree — the unweighted
    instance of the reference's trace(C^T A C) formulation
    (``notebooks/Louvain.ipynb``).

    Returns ONE row (n_communities, modularity).  Plan: edges join labels
    twice (src side, dst side — both hash joins on the vertex key), one
    groupBy(community), one global aggregate; O(E) shuffle total,
    broadcast-eligible label side is left to AQE/Catalyst since labels is
    O(V) and may be huge.
    """
    sym = symmetric(edges)
    lab = labels.select(F.col("id"), F.col("community"))
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))
    # per-community: total degree D_c and intra-community endpoint count
    dc = (
        deg.join(lab, "id")
        .groupBy("community")
        .agg(F.sum("deg").alias("dc"))
    )
    intra = (
        sym.join(lab.select(F.col("id").alias("s"),
                            F.col("community").alias("_cs")), "s")
        .join(lab.select(F.col("id").alias("d"),
                         F.col("community").alias("_cd")), "d")
        .filter(F.col("_cs") == F.col("_cd"))
        .groupBy(F.col("_cs").alias("community"))
        .agg(F.count("*").alias("intra"))
    )
    m2 = sym.count()  # total degree = 2m (scalar; one job, not per-row)
    per_c = dc.join(intra, "community", "left").select(
        "community",
        F.coalesce(F.col("intra"), F.lit(0)).alias("intra"),
        "dc",
    )
    return per_c.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.round(
            F.sum(
                F.col("intra").cast("double") / F.lit(float(m2))
                - (F.col("dc").cast("double") / F.lit(float(m2))) ** 2
            ),
            6,
        ).alias("modularity"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph:
    the Pearson correlation of (deg(s), deg(d)) over the symmetrized edge
    list.  Returns ONE row (n_edges, assortativity) with n_edges the
    undirected edge count.

    Computed from exact integer moment sums (degrees and counts are
    integers, so Σx, Σx², Σxy are exact in 64-bit until ~2^53 — identical
    in any engine; only the final ratio is floating).
    """
    sym = symmetric(edges)
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))
    xy = (
        sym.join(deg.select(F.col("id").alias("s"), F.col("deg").alias("x")), "s")
        .join(deg.select(F.col("id").alias("d"), F.col("deg").alias("y")), "d")
    )
    mom = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mom.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """Global transitivity (global clustering coefficient) of the
    undirected simple graph: 3·triangles / wedges, with
    wedges = Σ_v d(v)·(d(v)−1)/2.

    Returns ONE row (wedges, triangles, transitivity).  Both totals are
    exact 64-bit integer sums (order-independent — bit-identical in any
    engine); only the final ratio is floating, rounded 1e-6.

    Plan: one degree aggregate + the tricount wedge-close join
    (``algorithms/triangles.py`` — e1 ⋈ e2 on the shared endpoint, closed
    by an equi-join on (a, c); the mask semi-join form of masked plus_pair
    A·A, LAGraph tricount) over the pinned canonical edge set.  Hub skew
    in the wedge join is the tricount skew story: the a<b canonicalization
    already halves hub fan-out.
    """
    ue = undirected(edges).localCheckpoint(eager=True)
    deg = (
        ue.select(F.col("a").alias("id"))
        .unionAll(ue.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    # Σ d(d−1) is summed as exact int64, halved once at the end (every term
    # is even) — order-independent, engine-bit-identical
    wedges = deg.agg(
        F.coalesce(F.expr("sum(deg * (deg - 1)) div 2"), F.lit(0))
        .cast("long").alias("wedges")
    )
    e1 = ue.select("a", "b")
    e2 = ue.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = ue.select("a", F.col("b").alias("c"))
    tri = (
        e1.join(e2, "b").join(e3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    out = wedges.crossJoin(tri).select(
        "wedges", "triangles",
        F.round(F.when(F.col("wedges") > 0,
                       3.0 * F.col("triangles") / F.col("wedges"))
                .otherwise(F.lit(0.0)), 6).alias("transitivity"),
    ).localCheckpoint(eager=True)
    release(ue)
    return out


def rich_club(edges: DataFrame, thresholds=(1, 2, 4, 8, 16, 32)) -> DataFrame:
    """Rich-club coefficient φ(k) at each degree threshold: the edge
    density of the subgraph induced by vertices with degree > k,
    φ(k) = 2·E_k / (N_k·(N_k−1)) over the undirected simple graph.

    Returns one row per threshold (k, n_nodes, n_edges, rich_club),
    thresholds with fewer than 2 qualifying nodes reporting 0.0.

    Plan: ONE degree aggregate; each canonical edge picks up both endpoint
    degrees (two hash joins on the vertex key); then both relations
    explode over the tiny threshold literal array and aggregate by k —
    K·|deg| and K·|E| intermediate rows with map-side partial aggregation,
    never K scans of the edge table.  No windows, no collect.
    """
    ks = F.array(*[F.lit(int(k)) for k in thresholds])
    ue = undirected(edges).localCheckpoint(eager=True)
    deg = (
        ue.select(F.col("a").alias("id"))
        .unionAll(ue.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    nodes_k = (
        deg.select(F.explode(ks).alias("k"), "deg")
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k").agg(F.count("*").cast("long").alias("n_nodes"))
    )
    # an edge is in the k-club iff min(deg_a, deg_b) > k
    e_deg = (
        ue.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
        .select(F.least("_da", "_db").alias("_dmin"))
    )
    edges_k = (
        e_deg.select(F.explode(ks).alias("k"), "_dmin")
        .filter(F.col("_dmin") > F.col("k"))
        .groupBy("k").agg(F.count("*").cast("long").alias("n_edges"))
    )
    base = ue.sparkSession.createDataFrame(
        [(int(k),) for k in thresholds], "k int")
    out = (
        base.join(nodes_k, "k", "left").join(edges_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(
                F.when(F.coalesce("n_nodes", F.lit(0)) > 1,
                       2.0 * F.coalesce("n_edges", F.lit(0))
                       / (F.col("n_nodes") * (F.col("n_nodes") - 1)))
                .otherwise(F.lit(0.0)), 6).alias("rich_club"),
        )
    ).localCheckpoint(eager=True)
    release(ue)
    return out


def vertex_features(edges: DataFrame) -> DataFrame:
    """Per-vertex structural feature table — the assembled input a GNN /
    feature-store pipeline reads: directed out- and in-degree (simple
    graph), undirected degree, triangle count, local clustering
    coefficient.  One plan: the shared degree/tricount machinery
    (``algorithms/triangles.clustering_coefficients``) plus two directed
    degree aggregates and two vertex-key left joins — O(E) shuffles only,
    nothing iterative.

    Vertices appear if they touch any non-loop edge; directed degrees
    count distinct simple edges (loops dropped), matching the undirected
    base relation.
    """
    from .triangles import clustering_coefficients

    base = clustering_coefficients(edges)
    e = simple(edges)
    dout = e.groupBy(F.col("i").alias("id")).agg(
        F.count("*").cast("long").alias("out_deg"))
    din = e.groupBy(F.col("j").alias("id")).agg(
        F.count("*").cast("long").alias("in_deg"))
    return (
        base.join(dout, "id", "left").join(din, "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            "degree", "triangles", "coeff",
        )
    )


def degree_quantiles(edges: DataFrame,
                     probs=(0.5, 0.9, 0.99, 0.999),
                     direction: str = "out") -> DataFrame:
    """Exact (linearly interpolated) quantiles of the degree distribution —
    the skew diagnostic that decides hub-chunking parameters
    (``adjacency_table``'s ``max_chunk``) before running anything
    expensive on a power-law graph.

    Returns one row per probability (p, deg_q).  Spark's ``percentile`` is
    the exact type-7 estimator (same as DuckDB ``quantile_cont``), so the
    result is engine-identical up to the final rounding.  Scale shape: the
    degree agg is one shuffle; the percentile agg's state is one count per
    DISTINCT degree value (power-law graphs have O(max-degree) ≪ V of
    them), merged map-side — no sort, no window, no collect.
    """
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    key = "i" if direction == "out" else "j"
    deg = edges.select(key).groupBy(key).agg(F.count("*").alias("deg"))
    plist = ", ".join(repr(float(p)) for p in probs)
    qarr = deg.agg(F.expr(f"percentile(deg, array({plist}))").alias("_qs"))
    pcol = F.array(*[F.lit(float(p)) for p in probs])
    return (
        qarr.select(F.explode(F.arrays_zip(pcol.alias("p"),
                                           F.col("_qs").alias("q"))).alias("z"))
        .select(F.col("z.p").alias("p"),
                F.round(F.col("z.q"), 6).alias("deg_q"))
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Edge reciprocity of the directed simple graph: the fraction of
    directed non-loop edges (i → j) whose reverse (j → i) is also present.

    Returns ONE row (n_edges, n_reciprocal, reciprocity).  Plan: the
    distinct edge set left-semi-joins its own transpose on the pair key —
    one hash join on (i, j), no window, no collect; O(E) shuffle.
    """
    e = simple(edges).localCheckpoint(eager=True)
    rev = e.select(F.col("j").alias("i"), F.col("i").alias("j"))
    recip = e.join(rev, ["i", "j"], "left_semi")
    out = e.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        recip.agg(F.count("*").cast("long").alias("n_reciprocal"))
    ).select(
        "n_edges", "n_reciprocal",
        F.round(F.col("n_reciprocal").cast("double") / F.col("n_edges"), 6)
        .alias("reciprocity"),
    )
    out = out.localCheckpoint(eager=True)
    release(e)
    return out


def conductance(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Per-community conductance over the symmetrized simple graph:
    φ(S) = cut(S) / min(vol(S), vol(V∖S)) with vol(S) the number of
    directed-symmetric edge endpoints rooted in S and cut(S) the number
    of those endpoints whose other end leaves S — the standard partition
    quality score next to ``modularity`` (a low-φ community is
    well-separated).  Vertices absent from ``mapping`` (id, group) are
    dropped (inner-join semantics, matching ``contract_graph``).

    Returns (group, volume, cut, conductance) per community; communities
    whose complement volume is 0 (the whole graph in one group) get
    conductance 0.0 by convention.

    Plan: two vertex-key hash joins of the O(E) symmetric relation
    against the O(V) mapping, one groupBy(group), one tiny global-total
    broadcast.  No windows, no collect.
    """
    sym = symmetric(edges)
    m = mapping.select("id", "group")
    tagged = (
        sym.join(m.select(F.col("id").alias("s"), F.col("group").alias("gs")), "s")
        .join(m.select(F.col("id").alias("d"), F.col("group").alias("gd")), "d")
    )
    per = tagged.groupBy(F.col("gs").alias("group")).agg(
        F.count("*").cast("long").alias("volume"),
        F.sum((F.col("gs") != F.col("gd")).cast("long")).cast("long").alias("cut"),
    )
    total = per.agg(F.sum("volume").alias("_vtot"))
    mn = F.least(F.col("volume"), F.col("_vtot") - F.col("volume"))
    return per.join(F.broadcast(total)).select(
        "group",
        "volume",
        "cut",
        F.when(mn > 0, F.round(F.col("cut").cast("double") / mn.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("conductance"),
    )


def attribute_assortativity(edges: DataFrame, attrs: DataFrame) -> DataFrame:
    """Categorical (attribute) assortativity of the symmetrized simple
    graph under the vertex attribute ``attrs`` (id, attr) — Newman's
    discrete assortativity r = (Σ_x e_xx − Σ_x a_x·b_x) / (1 − Σ_x a_x·b_x)
    over the normalized attribute mixing matrix e.  r = 1 ⇔ edges only
    inside attribute classes; r ≈ 0 ⇔ attribute-blind wiring.

    Computed from EXACT integer counts (trace·M and Σ rowsum·colsum as
    64-bit integers; the symmetric relation makes rowsums = colsums) with
    one final floating division — bit-reproducible in any engine while
    the products stay below 2^63.  Returns ONE row
    (n_endpoints, n_intra, assortativity).

    Plan: two vertex-key joins + one groupBy on the attribute pair (the
    mixing matrix is |attr|² rows — tiny), then a scalar aggregate.
    """
    sym = symmetric(edges)
    a = attrs.select("id", "attr")
    mix = (
        sym.join(a.select(F.col("id").alias("s"), F.col("attr").alias("xa")), "s")
        .join(a.select(F.col("id").alias("d"), F.col("attr").alias("ya")), "d")
        .groupBy("xa", "ya")
        .agg(F.count("*").alias("cnt"))
    )
    rows = mix.groupBy("xa").agg(F.sum("cnt").alias("rs"))
    cols = mix.groupBy("ya").agg(F.sum("cnt").alias("cs"))
    ab = (
        rows.join(cols, rows["xa"] == cols["ya"])
        .agg(F.sum(F.col("rs") * F.col("cs")).alias("sab"))
    )
    tr = mix.agg(
        F.sum("cnt").alias("m"),
        F.sum(F.when(F.col("xa") == F.col("ya"), F.col("cnt")).otherwise(F.lit(0)))
        .alias("t"),
    )
    den = (F.col("m") * F.col("m") - F.col("sab")).cast("double")
    return tr.crossJoin(F.broadcast(ab)).select(
        F.col("m").cast("long").alias("n_endpoints"),
        F.col("t").cast("long").alias("n_intra"),
        # a single attribute class makes the denominator 0 (every edge is
        # intra by construction): perfectly assortative by convention
        F.when(den == 0, F.lit(1.0)).otherwise(
            F.round((F.col("t") * F.col("m") - F.col("sab")).cast("double")
                    / den, 6)
        ).alias("assortativity"),
    )


def snapshot_diff(e_old: DataFrame, e_new: DataFrame) -> DataFrame:
    """Edge-level diff of two graph snapshots (i, j, v): per edge key the
    status 'added' / 'removed' / 'retained' plus both weights (absent →
    0) — the temporal-graph primitive behind incremental recompute
    (feed 'added'/'removed' into a delta PageRank) and crawl-to-crawl
    link-churn reports.

    ONE full-outer hash join on the (i, j) pair key; both sides shuffle
    once, output is O(|old ∪ new|).  No windows, no collect.
    """
    o = e_old.select("i", "j", F.col("v").alias("w_old"))
    n = e_new.select("i", "j", F.col("v").alias("w_new"))
    return o.join(n, ["i", "j"], "full_outer").select(
        "i",
        "j",
        F.when(F.col("w_old").isNull(), F.lit("added"))
        .when(F.col("w_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
        .alias("status"),
        F.coalesce(F.col("w_old"), F.lit(0)).cast("long").alias("w_old"),
        F.coalesce(F.col("w_new"), F.lit(0)).cast("long").alias("w_new"),
    )


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row dashboard of the directed simple graph under ``edges``
    (i, j): vertex/edge counts, max and mean out-degree, and density —
    the first query every link-graph study runs.

    All counts exact integers; density = E / (V·(V−1)) with one final
    floating division.  Plan: one distinct + two aggregates, O(E)
    shuffle; the three scalar relations cross-join (1 row each).
    """
    e = simple(edges).localCheckpoint(eager=True)
    verts = vertex_ids(e)
    deg = e.groupBy("i").agg(F.count("*").alias("d"))
    nv = verts.agg(F.count("*").cast("long").alias("n_vertices"))
    ne = e.agg(F.count("*").cast("long").alias("n_edges"))
    dd = deg.agg(F.max("d").cast("long").alias("max_out_degree"))
    out = nv.crossJoin(ne).crossJoin(dd).select(
        "n_vertices", "n_edges", "max_out_degree",
        F.round(F.col("n_edges").cast("double")
                / F.col("n_vertices").cast("double"), 6).alias("mean_out_degree"),
        F.round(F.col("n_edges").cast("double")
                / (F.col("n_vertices").cast("double")
                   * (F.col("n_vertices") - 1).cast("double")), 6).alias("density"),
    ).localCheckpoint(eager=True)
    release(e)
    return out


def powerlaw_alpha(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """Hill maximum-likelihood estimate of the degree-distribution tail
    exponent: α = 1 + n / Σ_{d ≥ d_min} ln(d / d_min), over out-degrees of
    the directed simple graph — the skew diagnostic that decides whether
    a graph needs hub-capped adjacency rows.

    Returns ONE row (n_tail, d_min, alpha); alpha is NULL when every
    tail degree equals ``d_min`` (Σln = 0 — the sample carries no slope
    information, e.g. a d_min-regular graph).  One degree aggregate +
    one scalar aggregate; the ln runs on exact integer degrees.
    """
    deg = (simple(edges).groupBy("i").agg(F.count("*").alias("d"))
           .filter(F.col("d") >= d_min))
    lnsum = F.sum(F.log(F.col("d") / F.lit(float(d_min))))
    return deg.agg(
        F.count("*").cast("long").alias("n_tail"),
        F.lit(int(d_min)).cast("long").alias("d_min"),
        F.when(lnsum > 0,
               F.round(F.lit(1.0) + F.count("*") / lnsum, 6))
        .otherwise(F.lit(None).cast("double")).alias("alpha"),
    )


def degree_drift(e_old: DataFrame, e_new: DataFrame,
                 buckets=(1, 2, 4, 8, 16, 32, 64)) -> DataFrame:
    """Distribution drift between two graph snapshots: out-degree
    histograms over log2-ish ``buckets`` plus the total-variation
    distance ½ Σ|p_old − p_new| — the crawl-health check run next to
    ``snapshot_diff`` (a TV jump means the link structure changed shape,
    not just size).

    Returns one row per bucket (bucket_floor, n_old, n_new, p_old,
    p_new) with the TV distance repeated in ``tv_distance`` (exact
    integer counts; the shares and TV are single divisions, 6dp).

    Plan: two degree aggregates + a |buckets|-row outer join; nothing
    O(E) after the groupBys.
    """
    def hist(e, n_col):
        deg = simple(e).groupBy("i").agg(F.count("*").alias("d"))
        b = F.lit(int(buckets[0]))
        for t in buckets[1:]:
            b = F.when(F.col("d") >= t, F.lit(int(t))).otherwise(b)
        return (deg.select(b.alias("bucket_floor"))
                .groupBy("bucket_floor")
                .agg(F.count("*").cast("long").alias(n_col)))
    h = (
        hist(e_old, "n_old").join(hist(e_new, "n_new"), "bucket_floor",
                                  "full_outer")
        .select("bucket_floor",
                F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
                F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"))
    )
    tot = h.agg(F.sum("n_old").alias("_to"), F.sum("n_new").alias("_tn"))
    shared = h.join(F.broadcast(tot)).select(
        "bucket_floor", "n_old", "n_new",
        (F.col("n_old").cast("double") / F.col("_to").cast("double")).alias("_po"),
        (F.col("n_new").cast("double") / F.col("_tn").cast("double")).alias("_pn"),
    )
    tv = shared.agg(
        F.round(F.sum(F.abs(F.col("_po") - F.col("_pn"))) / 2, 6).alias("_tv"))
    return shared.join(F.broadcast(tv)).select(
        "bucket_floor", "n_old", "n_new",
        F.round("_po", 6).alias("p_old"),
        F.round("_pn", 6).alias("p_new"),
        F.col("_tv").alias("tv_distance"),
    )


def normalized_mutual_information(labels_a: DataFrame,
                                  labels_b: DataFrame) -> DataFrame:
    """NMI between two labelings of the same id set — the standard
    community-detection evaluation metric (compare Louvain vs label
    propagation vs a partitioner, or a labeling vs ground truth):

        NMI = 2·I(A;B) / (H(A) + H(B))

    over the inner-joined ids, with I and H from the joint contingency
    counts (MLE).  Inputs: (id, label) each; ids missing from either
    side are ignored (inner join).  Returns ONE row:
    (n, h_a, h_b, mi, nmi), entropies in nats, all rounded 1e-6;
    nmi = 0 when both labelings are single-cluster (H_A = H_B = 0).

    Determinism contract: every Σ p·ln(…) term is quantized to integer
    nano-units BEFORE the sum (`sum(round(term·1e9))` as BIGINT — the
    kmeans/NF precedent), so partial-agg order cannot skew the result
    and the DuckDB oracle replays it exactly.

    Scale shape: one (id)-keyed inner join, one (a, b) contingency
    groupBy with map-side partials (output bounded by |labels_A|·
    |labels_B| OBSERVED pairs, not ids), two marginal groupBys riding on
    the contingency relation, then ONE global fold computing all three
    sums over the same joined cells (H_A = -Σ_cells (n_ab/n)·ln(n_a/n)
    since Σ_b n_ab = n_a).  Nothing id-sized ever reaches the driver.
    """
    j = (labels_a.select("id", F.col("label").alias("_a"))
         .join(labels_b.select("id", F.col("label").alias("_b")), "id"))
    joint = (j.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_nab"))
             .localCheckpoint(eager=True))
    ma = joint.groupBy("_a").agg(F.sum("_nab").alias("_na"))
    mb = joint.groupBy("_b").agg(F.sum("_nab").alias("_nb"))
    n = joint.agg(F.sum("_nab").alias("_n"))

    # every sum is taken over the SAME joint relation (Σ_b nab = na folds
    # the marginal entropies into per-cell terms), so the whole metric is
    # one join pass + ONE global fold
    p = F.col("_nab") / F.col("_n")
    t_ha = -p * F.log(F.col("_na") / F.col("_n"))
    t_hb = -p * F.log(F.col("_nb") / F.col("_n"))
    t_mi = p * F.log((F.col("_n") * F.col("_nab"))
                     / (F.col("_na") * F.col("_nb")))

    def q9(col):
        return F.sum(F.round(col * 1e9, 0).cast("long")) / F.lit(1e9)

    agg = (
        joint.join(F.broadcast(ma), "_a").join(F.broadcast(mb), "_b")
        .crossJoin(F.broadcast(n))
        .agg(F.first("_n").alias("_n"), q9(t_ha).alias("_ha"),
             q9(t_hb).alias("_hb"), q9(t_mi).alias("_mi"))
    )
    # empty id intersection: every aggregate above is over an empty
    # relation and returns NULL — coalesce to the defined n=0 answer
    # (n=0, entropies/MI/NMI all 0) instead of a row of NULLs
    return agg.select(
        F.coalesce(F.col("_n").cast("long"), F.lit(0)).alias("n"),
        F.round(F.coalesce("_ha", F.lit(0.0)), 6).alias("h_a"),
        F.round(F.coalesce("_hb", F.lit(0.0)), 6).alias("h_b"),
        F.round(F.coalesce("_mi", F.lit(0.0)), 6).alias("mi"),
        F.round(
            F.when(F.col("_ha") + F.col("_hb") > 0,
                   2.0 * F.col("_mi") / (F.col("_ha") + F.col("_hb")))
            .otherwise(F.lit(0.0)), 6).alias("nmi"))


def spearman_correlation(scores_a: DataFrame,
                         scores_b: DataFrame) -> DataFrame:
    """Spearman rank correlation between two score vectors over the same
    id set — the ranking-comparison twin of
    :func:`normalized_mutual_information` (compare PageRank vs harmonic
    orderings, a centrality vs ground truth, or two model scores):

        ρ = 1 − 6·Σd² / (n·(n² − 1))

    with d = rank_A(id) − rank_B(id) and ranks the 0-based PERMUTATION
    positions under (score desc, id asc) — the deterministic tie-break
    makes ranks a pure function of the input (no averaged tie ranks), so
    Σd² is an exact integer and the DuckDB oracle reproduces it bit-for-
    bit.  Inputs (id, score); ids missing from either side are ignored.
    Returns ONE row: (n, sum_d2, spearman), ρ rounded 1e-6 (ρ = 1.0 for
    n < 2 by convention).

    Scale shape: one id-keyed inner join, then each side ranks through
    the two-phase range-partition rank (``degree_relabel``'s plan — a
    per-partition window plus an O(P)-row broadcast offset relation, no
    global window), one id-keyed join of the two rank relations, one
    1-row fold.  Σd² is summed as BIGINT — exact while n ≲ 3·10⁶ (worst
    case Σd² = n(n²−1)/3); beyond that the fold must move to quantized
    doubles, noted here rather than silently.
    """
    j = (scores_a.select("id", F.col("score").alias("_sa"))
         .join(scores_b.select("id", F.col("score").alias("_sb")), "id")
         .localCheckpoint(eager=True))

    def _rank(col: str, out: str) -> DataFrame:
        order = [F.col(col).desc(), F.col("id").asc()]
        rp = (j.select("id", col).repartitionByRange(*order)
              .withColumn("_pid", F.spark_partition_id()))
        counts = rp.groupBy("_pid").agg(F.count("*").alias("_cnt"))
        woff = Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1)
        offsets = counts.select(
            "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0))
            .alias("_off"))
        wloc = Window.partitionBy("_pid").orderBy(*order)
        return (rp.join(F.broadcast(offsets), "_pid")
                .select("id", (F.row_number().over(wloc) + F.col("_off") - 1)
                        .cast("long").alias(out)))

    ra = _rank("_sa", "_ra")
    rb = _rank("_sb", "_rb")
    d = ra.join(rb, "id").select(
        ((F.col("_ra") - F.col("_rb"))
         * (F.col("_ra") - F.col("_rb"))).alias("_d2"))
    out = d.agg(F.count(F.lit(1)).alias("_n"),
                F.coalesce(F.sum("_d2"), F.lit(0)).alias("_sd2")).select(
        F.col("_n").cast("long").alias("n"),
        F.col("_sd2").cast("long").alias("sum_d2"),
        F.round(
            F.when(F.col("_n") < 2, F.lit(1.0))
            .otherwise(1.0 - (6.0 * F.col("_sd2"))
                       / (F.col("_n")
                          * (F.col("_n") * F.col("_n") - 1))), 6)
        .alias("spearman"))
    return out
