"""Embedding feature operators for training-data pipelines: GNN-style
neighbor aggregation (feature propagation / smoothing) and L2
normalization.

The relational form of "average your neighbors' embeddings" is the
scalable one: posexplode the vectors to (id, pos, val) rows — a pure JVM
generator inside whole-stage codegen — route them along the edge relation,
and ⊕-aggregate per (dst, pos).  That is exactly one O(E·dim) shuffle with
map-side combine, the same plan class as the engine's SpMV; no Python
touches a row, and no per-vertex array ever exceeds a cell (contrast a
collect_list-of-arrays plan, which would build degree-sized rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_python_spark.plans.iterate import release


def neighbor_mean_embeddings(
    edges: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean of in-neighbor embeddings per vertex, exploded form:
    (id, pos, mean_val, n_nbrs) — one row per (destination, dimension).

    ``edges``: (src, dst) long columns; a vertex's output averages the
    embeddings of its in-neighbors {src : (src, dst) ∈ E} (multi-edges
    should be deduped by the caller if unweighted semantics are wanted).
    ``pos`` is 0-based.  Callers wanting the array form can
    ``groupBy(id).agg(array_sort(collect_list(struct(pos, mean_val))))`` —
    bounded by dim, not by degree.
    """
    ex = emb.select(
        F.col(id_col).alias("src"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    return (
        edges.select("src", "dst")
        .join(ex, "src")
        .groupBy(F.col("dst").alias("id"), "pos")
        .agg(
            F.avg(F.col("val").cast("double")).alias("mean_val"),
            F.count("*").cast("long").alias("n_nbrs"),
        )
    )


def l2_normalize(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its L2-normalized version (zero vectors
    pass through unchanged — no NaNs, the similarity-path convention)."""
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    normed = F.when(
        norm > 0,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / norm),
    ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    return emb.withColumn(vec_col, normed)


def pca_top_component(
    emb: DataFrame,
    iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Leading principal component of the embedding matrix by power
    iteration on the covariance — WITHOUT ever materializing the d×d
    covariance: each iteration computes w = Xᶜᵀ(Xᶜ v) as two O(n·d)
    relational passes (the same SpMV plan class as ``pagerank``), where
    Xᶜ is the mean-centered matrix.  v renormalizes by max|w| each step —
    an order-independent exact statistic (unlike an L2 norm's
    float-sum), and sign-stable because the covariance is PSD.

    Returns (pos, loading) for pos 0..d−1 with loading = v_pos after the
    final normalization (∈ [−1, 1], the max-|·| component at ±1).

    Scale shape (matvec fused into one Arrow pass): per iteration ONE
    mapInPandas scan of the n×d table computes, per Arrow batch, the
    batch-local y = Xv − (μ·v) and the d-element partials Xᵀy and Σy —
    so only O(batches·d) partial rows reach the groupBy, never an
    O(n·d) exploded relation (an earlier relational form checkpointed
    128M exploded rows twice and shuffled them per pass: 208.8 s at
    4M×32; this shape re-reads the parquet and moves KBs).  The driver
    holds only the O(d) vectors μ and v between iterations — the same
    bounded-state class as kmeans centroids; the mean-centering never
    materializes Xᶜ (y = Xv − μ·v, w = Σxᵢyᵢ − μ·Σyᵢ).
    """
    import numpy as np

    spark = emb.sparkSession
    vecs = emb.select(F.col(vec_col).alias("_v"))
    first = vecs.head(1)
    if not first:
        return spark.createDataFrame([], "pos long, loading double")
    d = len(first[0]["_v"])
    part_schema = "pos long, s double, c long"

    def mean_partials(it):
        import pandas as pd
        pos = np.arange(d, dtype=np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
            yield pd.DataFrame({"pos": pos, "s": x.sum(axis=0),
                                "c": np.int64(len(x))})

    mu_rows = (vecs.mapInPandas(mean_partials, part_schema)
               .groupBy("pos")
               .agg((F.sum("s") / F.sum("c")).alias("mu"))
               .orderBy("pos").collect())  # d rows — bounded by dim
    mu = np.array([r["mu"] for r in mu_rows], dtype=np.float64)

    v = np.ones(d, dtype=np.float64)
    for _ in range(iterations):
        muv = float(mu @ v)

        def iter_partials(it, v=v, muv=muv):
            import pandas as pd
            pos = np.arange(d, dtype=np.int64)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["_v"].to_numpy()).astype(np.float64,
                                                          copy=False)
                y = x @ v - muv
                yield pd.DataFrame({"pos": pos, "s": x.T @ y,
                                    "ys": float(y.sum())})

        rows = (vecs.mapInPandas(iter_partials, "pos long, s double, ys double")
                .groupBy("pos")
                .agg(F.sum("s").alias("s"), F.sum("ys").alias("ys"))
                .orderBy("pos").collect())  # d rows
        xy = np.array([r["s"] for r in rows], dtype=np.float64)
        total_ys = rows[0]["ys"]  # identical for every pos by construction
        w = xy - mu * total_ys
        v = w / np.abs(w).max()

    return spark.createDataFrame(
        [(int(p), float(x)) for p, x in enumerate(v)],
        "pos long, loading double",
    ).select("pos", F.round(F.col("loading"), 6).alias("loading"))


def label_centroids(emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-class embedding diagnostics: class size, centroid L2 norm, and
    the mean squared distance of members to their centroid — the
    separability report a classifier/clustering pipeline prints.

    Uses the exact one-pass identity  E‖x − c‖² = E‖x‖² − ‖c‖²  (c the
    class mean), so everything reduces to per-(label, pos) component sums
    plus a per-vector squared-norm sum: two partitioned aggregates, no
    pairwise joins.  Returns (label, n_vecs, centroid_norm, mean_sq_dist).
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "_xf"),
    ).select("label", "id", "pos", F.col("_xf").cast("double").alias("x"))
    comp = ex.groupBy("label", "pos").agg(
        F.sum("x").alias("sx"),
        F.count("*").alias("nv"),
    )
    cent = comp.groupBy("label").agg(
        F.sum((F.col("sx") / F.col("nv")) * (F.col("sx") / F.col("nv")))
        .alias("_c2"),
        F.max("nv").cast("long").alias("n_vecs"),
    )
    norms = (
        ex.groupBy("label", "id").agg(F.sum(F.col("x") * F.col("x")).alias("_n2"))
        .groupBy("label").agg((F.sum("_n2") / F.count("*")).alias("_en2"))
    )
    return cent.join(norms, "label").select(
        "label", "n_vecs",
        F.round(F.sqrt(F.col("_c2")), 6).alias("centroid_norm"),
        F.round(F.col("_en2") - F.col("_c2"), 6).alias("mean_sq_dist"),
    )


def logreg_classifier(
    docs: DataFrame,
    label_col: str = "label",
    dim: int = 64,
    steps: int = 4,
    lr: float = 1.0,
    text_col: str = "text",
) -> list[float]:
    """Train a CCNet-style quality/source discriminator: full-batch
    logistic regression over hashed bag-of-token features — the
    "fastText classifier" stage of LLM data curation (Wenzek et al.,
    CCNet, LREC 2020 train a wiki-vs-crawl LM/classifier and keep the
    wiki-like tail; this is that shape on engine-replayable arithmetic).

    Features: token t → bucket md5(t) mod ``dim`` (engine-replayable
    hash), value = bucket_count / n_tokens, plus a constant bias feature
    at index ``dim``.  ``label_col`` must be 0/1.

    Determinism contract (the kmeans/centroid precedent, applied to GD):
    every float reduction is quantized to integer units BEFORE the sum —
    per-doc logits are Σ round(w_j·x_ij·1e9) (BIGINT), per-feature
    gradients Σ round((p_i−y_i)·x_ij·1e6) (BIGINT) — so partial-agg
    order can't skew them; the sigmoid is rounded to 9 dp to absorb any
    cross-engine exp() ulp.  The weight vector (≤ dim+1 doubles) lives
    driver-side across the ``steps`` iterations — the same bounded
    collect the BPE merge table uses; each step is two O(tokens)
    aggregations, nothing vocabulary- or corpus-sized ever reaches the
    driver.

    Returns the learned weights as a Python list of dim+1 floats
    (index ``dim`` = bias).  Use :func:`logreg_score` to apply them.
    """
    feat = (
        docs.select("doc_id",
                    F.explode(F.filter(F.split(F.col(text_col), " "),
                                       lambda t: t != "")).alias("tok"))
        .select("doc_id",
                (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                 .cast("long") % dim).alias("j"))
        .groupBy("doc_id", "j").agg(F.count(F.lit(1)).alias("_c"))
    )
    ntok = feat.groupBy("doc_id").agg(F.sum("_c").alias("_n"))
    x = (
        feat.join(ntok, "doc_id")
        .select("doc_id", "j",
                (F.col("_c").cast("double") / F.col("_n")).alias("x"))
        .unionByName(
            ntok.select("doc_id", F.lit(dim).cast("long").alias("j"),
                        F.lit(1.0).alias("x")))
    )
    y = docs.select("doc_id", F.col(label_col).cast("double").alias("y"))
    xy = x.join(y, "doc_id").localCheckpoint(eager=True)
    n_docs = xy.select("doc_id").distinct().count()

    w = [0.0] * (dim + 1)
    for _ in range(steps):
        warr = F.array(*[F.lit(float(v)) for v in w])
        zq = (F.element_at(warr, (F.col("j") + 1).cast("int")) * F.col("x")
              * F.lit(1e9))
        logits = (
            xy.groupBy("doc_id")
            .agg(F.sum(F.round(zq, 0).cast("long")).alias("_zq"),
                 F.first("y").alias("y"))
            .select("doc_id", "y",
                    F.round(
                        F.lit(1.0)
                        / (F.lit(1.0) + F.exp(-(F.col("_zq") / F.lit(1e9)))),
                        9).alias("p"))
        )
        gq = (
            xy.join(logits.select("doc_id", "p", F.col("y").alias("_y")),
                    "doc_id")
            .groupBy("j")
            .agg(F.sum(
                F.round((F.col("p") - F.col("_y")) * F.col("x") * F.lit(1e6),
                        0).cast("long")).alias("_gq"))
            .collect()
        )
        grad = {int(r["j"]): int(r["_gq"]) for r in gq}
        w = [w[j] - lr * (grad.get(j, 0) / 1e6) / n_docs
             for j in range(dim + 1)]
    release(xy)
    return w


def logreg_score(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
) -> DataFrame:
    """Score documents with :func:`logreg_classifier` weights: returns
    (doc_id, score) with score = round(σ(w·x), 6), the keep-probability
    the CCNet-style gate thresholds.  Same quantized-logit contract as
    training; map-side except one (doc_id, j) count aggregation."""
    dim = len(weights) - 1
    feat = (
        docs.select("doc_id",
                    F.explode(F.filter(F.split(F.col(text_col), " "),
                                       lambda t: t != "")).alias("tok"))
        .select("doc_id",
                (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                 .cast("long") % dim).alias("j"))
        .groupBy("doc_id", "j").agg(F.count(F.lit(1)).alias("_c"))
    )
    ntok = feat.groupBy("doc_id").agg(F.sum("_c").alias("_n"))
    x = (
        feat.join(ntok, "doc_id")
        .select("doc_id", "j",
                (F.col("_c").cast("double") / F.col("_n")).alias("x"))
        .unionByName(
            ntok.select("doc_id", F.lit(dim).cast("long").alias("j"),
                        F.lit(1.0).alias("x")))
    )
    warr = F.array(*[F.lit(float(v)) for v in weights])
    zq = (F.element_at(warr, (F.col("j") + 1).cast("int")) * F.col("x")
          * F.lit(1e9))
    return (
        x.groupBy("doc_id")
        .agg(F.sum(F.round(zq, 0).cast("long")).alias("_zq"))
        .select("doc_id",
                F.round(
                    F.lit(1.0)
                    / (F.lit(1.0) + F.exp(-(F.col("_zq") / F.lit(1e9)))),
                    6).alias("score"))
    )
