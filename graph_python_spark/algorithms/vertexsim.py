"""Vertex-pair neighborhood Jaccard similarity.

GraphBLAS formulation: C = A·A^T over plus_pair gives common-neighbor
counts (the same masked plus_pair pattern as triangle counting, reference
``notebooks/HPEC2022.ipynb``); Jaccard then needs only the degree vector:
jac(u,v) = common / (deg(u) + deg(v) - common).

Spark shape: the A·A^T is the classic wedge self-join — symmetrized edge
table joined to itself on the shared neighbor with ``u < v`` de-duping each
unordered pair once — followed by one groupBy((u,v)).count and a degree
join.  Only pairs with >= 1 common neighbor ever materialize (the sparse
mask for free).

Scale note (100 TB): the wedge join fans out quadratically in hub degree —
a 1e6-degree hub contributes ~5e11 wedges.  ``max_degree`` prunes wedges
THROUGH such hubs (standard in web-graph similarity: a stop-hub's common-
neighbor evidence carries ~0 Jaccard discrimination, exactly the df_cap
argument in pipeline/dedup.py's token_jaccard_pairs); degrees in the
denominator are still the TRUE degrees, so retained pairs keep exact
denominators and the cap only lowers the common count through stop-hubs.
Default None = exact (what the DuckDB-oracled query runs at test scale).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_python_spark.operators.blocks import mirror, symmetric


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_degree: Optional[int] = None,
) -> DataFrame:
    """Classic link-prediction scores for every unordered vertex pair
    (u < v) with >= ``min_common`` common neighbors in the undirected
    simple graph under ``edges`` (long columns i, j):

    - ``common``        |Γ(u) ∩ Γ(v)|  (common neighbors)
    - ``adamic_adar``   Σ_{w ∈ Γ(u)∩Γ(v)} 1 / ln(deg(w))
    - ``pref_attach``   deg(u) · deg(v)  (preferential attachment)

    GraphBLAS formulation: common neighbors is the same plus_pair A·A^T as
    `jaccard_neighbors`; Adamic–Adar is the identical wedge relation under
    a plus_times semiring with the center vertex pre-scaled by 1/ln(deg)
    (reference pattern: ``notebooks/HPEC2022.ipynb`` masked plus_pair).

    Spark shape: ONE wedge self-join produces both aggregates (count and
    sum of the center's 1/ln(deg) carried on the left side), then a degree
    join adds pref_attach — no second pass over the wedges.  A common
    neighbor has degree >= 2 by construction, so ln(deg) > 0 always.
    ``max_degree`` prunes wedges THROUGH stop-hubs exactly as in
    `jaccard_neighbors` (their AA contribution ~ 1/ln(huge) ≈ 0 anyway).
    """
    sym = symmetric(edges)
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))
    wedge_src = sym.join(
        deg.select(F.col("id").alias("s"), F.col("deg").alias("_dc")), "s"
    )
    if max_degree is not None:
        wedge_src = wedge_src.filter(F.col("_dc") <= max_degree)
    pairs = (
        wedge_src.alias("a")
        .join(wedge_src.alias("b"),
              (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.d").alias("u"), F.col("b.d").alias("v"))
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("a._dc").cast("double")))
            .alias("adamic_adar"),
        )
        .filter(F.col("common") >= F.lit(min_common))
    )
    return (
        pairs.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("_du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv")), "v")
        .select(
            "u", "v", "common", "adamic_adar",
            (F.col("_du") * F.col("_dv")).cast("long").alias("pref_attach"),
        )
    )


def cocitation_scores(
    edges: DataFrame,
    min_total: int = 1,
    max_degree: Optional[int] = None,
) -> DataFrame:
    """Directed co-citation and bibliographic coupling for unordered vertex
    pairs (u < v) of the deduped directed graph (long columns i, j):

    - ``cocite``    |{w : w→u and w→v}|  (common in-neighbors — pages cited
                    together; A^T·A over plus_pair)
    - ``coupling``  |{w : u→w and v→w}|  (common out-neighbors — pages citing
                    the same things; A·A^T over plus_pair)

    Returns pairs where cocite + coupling >= ``min_total`` (absent side 0).

    Spark shape: two directed wedge self-joins (one keyed on the shared
    source, one on the shared destination) merged with a full outer join on
    the pair key.  ``max_degree`` prunes wedges through stop-hubs: centers
    with out-degree (for cocite) / in-degree (for coupling) above the cap
    contribute ~zero discrimination and quadratic wedge fan-out — the same
    df_cap argument as `jaccard_neighbors`.
    """
    e = edges.select("i", "j").distinct()
    wedge_in = e   # center = i (the citing page)
    wedge_out = e  # center = j (the cited page)
    if max_degree is not None:
        dout = e.groupBy("i").agg(F.count("*").alias("_d"))
        din = e.groupBy("j").agg(F.count("*").alias("_d"))
        wedge_in = e.join(dout.filter(F.col("_d") <= max_degree).select("i"), "i")
        wedge_out = e.join(din.filter(F.col("_d") <= max_degree).select("j"), "j")
    cocite = (
        wedge_in.alias("a")
        .join(wedge_in.alias("b"),
              (F.col("a.i") == F.col("b.i")) & (F.col("a.j") < F.col("b.j")))
        .groupBy(F.col("a.j").alias("u"), F.col("b.j").alias("v"))
        .agg(F.count("*").cast("long").alias("cocite"))
    )
    coupling = (
        wedge_out.alias("a")
        .join(wedge_out.alias("b"),
              (F.col("a.j") == F.col("b.j")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("u"), F.col("b.i").alias("v"))
        .agg(F.count("*").cast("long").alias("coupling"))
    )
    return (
        cocite.join(coupling, ["u", "v"], "full_outer")
        .select(
            "u", "v",
            F.coalesce(F.col("cocite"), F.lit(0)).cast("long").alias("cocite"),
            F.coalesce(F.col("coupling"), F.lit(0)).cast("long").alias("coupling"),
        )
        .filter(F.col("cocite") + F.col("coupling") >= F.lit(min_total))
    )


def bipartite_project(
    edges: DataFrame,
    left: str = "l",
    right: str = "r",
    min_weight: int = 1,
    max_right_degree: Optional[int] = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph onto its ``left``
    vertex set: an edge (u, v, weight) for every unordered left pair u < v,
    weight = number of shared right neighbors (B·B^T over the plus_pair
    semiring, restricted to the strict upper triangle — the bipartite twin
    of the reference's masked plus_pair pattern, ``notebooks/
    HPEC2022.ipynb``).  This is how co-occurrence link graphs are BUILT
    (co-purchase, co-authorship, doc–term co-citation) before any of the
    one-mode algorithms here run on them.

    Spark shape: dedup to the distinct (right, left) incidence relation,
    self-join on the shared right vertex with ``left_a < left_b``, one
    groupBy((u, v)).count — the identical wedge plan as `jaccard_neighbors`,
    shuffling only on the right key and then once on the pair key.

    Scale note (100 TB): fan-out is quadratic in RIGHT degree — one
    10^6-member right hub yields ~5·10^11 pairs.  ``max_right_degree``
    drops such hubs before the self-join (a right vertex shared by a huge
    crowd carries ~zero pairwise signal — the same stop-hub/df_cap argument
    as `jaccard_neighbors` and token_jaccard_pairs).  Default None = exact
    (what the DuckDB-oracled query runs at test scale).
    """
    inc = (
        edges.select(F.col(right).alias("_r"), F.col(left).alias("_l"))
        .distinct()
    )
    if max_right_degree is not None:
        rdeg = inc.groupBy("_r").agg(F.count("*").alias("_d"))
        inc = inc.join(
            rdeg.filter(F.col("_d") > max_right_degree).select("_r"),
            "_r", "left_anti")
    return (
        inc.alias("a")
        .join(inc.alias("b"),
              (F.col("a._r") == F.col("b._r")) & (F.col("a._l") < F.col("b._l")))
        .groupBy(F.col("a._l").alias("u"), F.col("b._l").alias("v"))
        .agg(F.count("*").cast("long").alias("weight"))
        .filter(F.col("weight") >= F.lit(min_weight))
    )


def butterfly_counts(
    edges: DataFrame,
    left: str = "l",
    right: str = "r",
    max_right_degree: Optional[int] = None,
) -> DataFrame:
    """Per-left-vertex butterfly (bipartite 4-cycle) counts — the bipartite
    twin of per-vertex triangle counts, the density/cohesion signal for
    two-mode graphs (user×item, doc×term).  A butterfly on left pair
    (u, v) exists for every unordered pair of their shared right
    neighbors, so with w = |Γ(u) ∩ Γ(v)| (the `bipartite_project` weight)
    the pair contributes C(w, 2) butterflies to BOTH u and v.

    Spark shape: the projection's wedge plan (pairs with w >= 2 only —
    w = 1 contributes zero) + one explode-to-both-endpoints union + one
    vertex groupBy.  ``max_right_degree`` is the same stop-hub cap as the
    projection (fan-out quadratic in right degree).
    Returns (id, butterflies) for every left vertex in >= 1 butterfly.
    """
    proj = bipartite_project(edges, left=left, right=right, min_weight=2,
                             max_right_degree=max_right_degree)
    # w(w-1) is even, so >>1 is the exact integer C(w,2) — a double
    # division would round past 2^53 and diverge from the integer oracle
    per_pair = proj.select(
        "u", "v",
        F.shiftright(F.col("weight") * (F.col("weight") - 1), 1).alias("bfly"))
    sides = per_pair.select(F.col("u").alias("id"), "bfly").unionByName(
        per_pair.select(F.col("v").alias("id"), "bfly"))
    return sides.groupBy("id").agg(
        F.sum("bfly").cast("long").alias("butterflies"))


def jaccard_neighbors(
    edges: DataFrame,
    min_sim: float = 0.0,
    max_degree: Optional[int] = None,
) -> DataFrame:
    """All unordered vertex pairs (u < v) of the undirected simple graph
    under ``edges`` (long columns i, j) with >= 1 common neighbor and
    Jaccard similarity >= ``min_sim``.  Returns (u, v, common, sim).
    """
    sym = symmetric(edges)
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))
    wedge_src = sym
    if max_degree is not None:
        hubs = deg.filter(F.col("deg") > max_degree).select(F.col("id").alias("s"))
        wedge_src = sym.join(hubs, "s", "left_anti")
    common = (
        wedge_src.alias("a")
        .join(wedge_src.alias("b"),
              (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.d").alias("u"), F.col("b.d").alias("v"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    return (
        common.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("_du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv")), "v")
        .select(
            "u", "v", "common",
            (F.col("common").cast("double")
             / (F.col("_du") + F.col("_dv") - F.col("common"))).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(min_sim))
    )


def topk_neighbors(proj: DataFrame, k: int = 10) -> DataFrame:
    """Per-vertex top-``k`` weighted neighbors of an undirected similarity
    /co-occurrence graph (u, v, weight) — the item-item recommendation
    table derived from a ``bipartite_project`` co-purchase projection.

    Returns (id, rec, weight, rank) with rank 1..k by (weight desc, rec
    asc) — the tie-break makes the cut a pure function of the data.

    Plan: symmetrize (a projection stores each undirected pair once),
    then ONE window PARTITIONED by the vertex key — parallel across
    vertices, never global; the output is O(V·k).
    """
    sym = mirror(proj.select(F.col("u").alias("id"), F.col("v").alias("rec"), "weight"),
                 "id", "rec")
    w = Window.partitionBy("id").orderBy(F.col("weight").desc(), F.col("rec"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
