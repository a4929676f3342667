"""Deduplication operators for training-data pipelines.

Four families, all shuffle-architected for 100 TB:

  * exact        — md5 groupBy: one shuffle on a 32-byte key, min-id keeper.
  * MinHash+LSH  — shingle → k minhashes → b bands → bucket-join: candidate
                   generation never compares all pairs; the band bucket is
                   the shuffle key, and verification runs only on bucket
                   collisions (standard banding bound).
  * token Jaccard — exact all-pairs via token inverted index (token is the
                   join key); integer-only math so results are exact.
  * SimHash      — 64-bit per-doc signature via per-bit majority vote over
                   md5 token bits; candidates collide on one of 8 disjoint
                   8-bit blocks (Hamming LSH), EXACT for distance < blocks
                   by pigeonhole.

Everything is built-in expressions (md5, explode, groupBy) — no Python
UDFs — so it scales with whole-stage codegen.  Hash functions are md5-hex,
chosen deliberately so DuckDB can replicate them bit-for-bit in the
correctness oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_python_spark.pipeline.text import tokens_col


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keep_id, n_dups).

    keep_id = smallest doc_id (deterministic canonical representative).
    """
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def doc_tokens(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, tok) pairs — the shared shingle relation."""
    return (
        docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
        .distinct()
    )


def minhash_signatures(docs: DataFrame, k: int = 8) -> DataFrame:
    """k-permutation MinHash over whitespace tokens.

    h_i(tok) = md5('<i>:' || tok); signature_i = lexicographic min — string
    min of hex digests is a valid uniform min-hash and is reproducible in
    any engine with md5.
    """
    toks = doc_tokens(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame, k: int = 8, bands: int = 4) -> DataFrame:
    """Band digests: rows (doc_id, band, bucket). k must divide into bands."""
    rows_per_band = k // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        out.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat(*cols)).alias("bucket")))
    arr = F.array(*out)
    return (
        signatures.select("doc_id", F.explode(arr).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def minhash_lsh_pairs(docs: DataFrame, k: int = 8, bands: int = 4,
                      threshold_num: int = 1, threshold_den: int = 2) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with EXACT token
    Jaccard (integer arithmetic): keep pairs with
    jaccard >= threshold_num/threshold_den.

    Returns (doc_a, doc_b, inter, union_sz) with doc_a < doc_b.

    Plan shape for 100 TB:

      1. REPRESENTATIVE COLLAPSE — documents with identical token SETS
         (md5 fingerprint of the sorted set) form one group; banding and
         exact verification run only on the min-id representative of each
         group.  Exact because Jaccard depends only on the token set:
         every member pair inherits its representatives' (inter, union),
         and same-set pairs are always band collisions with Jaccard 1.
         On duplicate-heavy corpora (the whole point of dedup) this
         divides the quadratic candidate work by the squared mean group
         size; the final expansion is two cheap equi-joins on the
         fingerprint.
      2. Candidate generation: (band, bucket) equi-join on the reps'
         band digests — never all pairs.
      3. Verification: per-pair ``array_intersect`` over the reps'
         sorted-distinct token arrays, attached to the candidate relation
         by two equi-joins on the O(reps) array relation.  After the
         representative collapse that relation is small enough for
         Catalyst to broadcast, so the intersect runs without any wide
         shuffle — measured 4.4s vs 38.8s at sf0.1 for the exploded
         inverted-index join it replaces (which shuffled
         |candidates| x |tokens-per-doc| narrow rows; 148M here).  At
         scales where the rep arrays outgrow the broadcast threshold the
         equi-joins degrade to shuffles of |candidates| x array-width
         bytes — the same volume the exploded join shuffled, minus its
         second join hop and the O(|candidates|) count aggregation.
    """
    toks_all = doc_tokens(docs).cache()
    groups = (
        toks_all.groupBy("doc_id")
        .agg(F.md5(F.concat_ws("\x01", F.sort_array(F.collect_list("tok")))).alias("_fp"),
             F.count("*").alias("sz"))
        .withColumn("_rep", F.min("doc_id").over(Window.partitionBy("_fp")))
    ).cache()
    reps = groups.filter(F.col("doc_id") == F.col("_rep"))
    toks = toks_all.join(reps.select("doc_id"), "doc_id")

    # signatures straight from the cached reps-only token relation — calling
    # minhash_signatures(docs ⋈ reps) would re-explode + re-distinct the
    # whole corpus for a second time (measured ~7s of the 22s sf0.1 run)
    sig = toks.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
        for i in range(k)
    ])
    # set sizes ride along from the band relation (a tiny pre-join on the
    # O(reps) side), so no post-aggregation join is needed — joining sizes
    # onto the multi-million-row verified-pair relation planned as a
    # sort-merge join and dominated the wall-clock (measured ~40s of 99s
    # at sf0.1)
    bb = lsh_bands(sig, k, bands).join(reps.select("doc_id", "sz"), "doc_id")
    left = bb.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"),
                     "band", "bucket")
    right = bb.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"),
                      "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sza", "szb")
        .distinct()
    )
    arrs = toks.groupBy("doc_id").agg(F.sort_array(F.collect_set("tok")).alias("_arr"))
    rep_pairs = (
        cand
        .join(arrs.select(F.col("doc_id").alias("doc_a"), F.col("_arr").alias("_aa")), "doc_a")
        .join(arrs.select(F.col("doc_id").alias("doc_b"), F.col("_arr").alias("_ab")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("_aa", "_ab")).cast("long"))
        .select("doc_a", "doc_b", "inter",
                (F.col("sza") + F.col("szb") - F.col("inter")).cast("long").alias("union_sz"))
        .filter(F.col("inter") * threshold_den >= F.col("union_sz") * threshold_num)
    )
    # expand rep pairs to member pairs via the fingerprint groups
    members = groups.select(F.col("_rep"), F.col("doc_id").alias("_m"))
    cross = (
        rep_pairs
        .join(members.select(F.col("_rep").alias("doc_a"), F.col("_m").alias("_da")), "doc_a")
        .join(members.select(F.col("_rep").alias("doc_b"), F.col("_m").alias("_db")), "doc_b")
        .select(F.least("_da", "_db").alias("doc_a"),
                F.greatest("_da", "_db").alias("doc_b"), "inter", "union_sz")
    )
    # within-group pairs: identical sets, Jaccard exactly 1
    within = (
        groups.select("_fp", F.col("doc_id").alias("_da"), "sz")
        .join(groups.select("_fp", F.col("doc_id").alias("_db")), "_fp")
        .filter(F.col("_da") < F.col("_db"))
        .select(F.col("_da").alias("doc_a"), F.col("_db").alias("doc_b"),
                F.col("sz").cast("long").alias("inter"),
                F.col("sz").cast("long").alias("union_sz"))
        .filter(F.lit(threshold_den >= threshold_num))
    )
    return cross.unionByName(within)


def token_jaccard_pairs(docs: DataFrame, threshold_num: int = 1,
                        threshold_den: int = 2,
                        df_cap: int | None = None) -> DataFrame:
    """All-pairs token Jaccard via the inverted index (token join key).

    O(sum of squared posting-list lengths) — the classic exact baseline the
    LSH path approximates; integer math keeps it oracle-exact.

    ``df_cap`` is the scale guard: tokens appearing in more than ``df_cap``
    documents are dropped from the token sets BEFORE sizes and
    intersections (Jaccard is then computed over the capped sets, on both
    the Spark and oracle side).  Without a cap, one stop-token with 10^6
    postings alone generates 10^12 candidate pairs — a capped posting list
    bounds the self-join at df_cap² per token, and near-universal tokens
    carry ~zero Jaccard discrimination anyway (PPJoin-style frequency
    pruning).  None = uncapped exact baseline for small inputs only.
    """
    toks = doc_tokens(docs)
    if df_cap is not None:
        dfreq = (
            toks.groupBy("tok").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("tok")
        )
        toks = toks.join(dfreq, "tok")
    toks = toks.cache()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    b = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("szb")), "doc_b")
        .select("doc_a", "doc_b", "inter",
                (F.col("sza") + F.col("szb") - F.col("inter")).cast("long").alias("union_sz"))
        .filter(F.col("inter") * threshold_den >= F.col("union_sz") * threshold_num)
    )


def char_ngrams(docs: DataFrame, n: int = 8) -> DataFrame:
    """Distinct (doc_id, tok) character n-gram shingles — the sub-word
    near-dup relation (catches edits word tokenization misses).  Pure SQL
    expression (sequence + transform + substring), replayable in any
    engine; a text shorter than ``n`` yields itself as its one shingle.
    """
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(1, length(text) - {n - 1})),"
                    f" i -> substring(text, i, {n}))"
                )
            ).alias("tok"),
        )
        .distinct()
    )


def duplicate_spans(docs: DataFrame, width: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Exact duplicated-passage detection at fixed shingle width — the
    fixed-granularity form of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    ``width``-token window whose text occurs in ≥ ``min_docs`` distinct
    documents is a duplicated span.  Per document: distinct window count,
    duplicated window count, and the duplicated fraction — the signal a
    pipeline thresholds to drop boilerplate-heavy documents or to excise
    the spans themselves.

    Plan shape: windows are built array-locally (transform over sequence —
    zero per-row Python, one md5 per window) and keyed by digest; document
    frequency is ONE groupBy on the digest (map-side partial agg over
    per-doc-distinct digests; md5 keys are uniform, so the shuffle cannot
    skew); duplicated digests join back on the same key.  End to end the
    moved data is O(total tokens) rows of 32-byte keys — the inverted-
    index shape every dedup family here shares.
    """
    base = docs.select("doc_id", tokens_col().alias("toks"))
    spans = F.expr(
        f"CASE WHEN size(toks) < {int(width)} THEN array()"
        f" ELSE transform(sequence(1, size(toks) - {int(width)} + 1),"
        f" i -> md5(concat_ws(' ', slice(toks, i, {int(width)})))) END")
    per_doc = base.select(
        "doc_id", F.array_distinct(spans).alias("digs")).cache()
    ex = per_doc.select("doc_id", F.explode("digs").alias("dig"))
    dup = (
        ex.groupBy("dig").agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs).select("dig")
    )
    cnt = ex.join(dup, "dig").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"))
    out = (
        per_doc.select("doc_id", F.size("digs").cast("long").alias("n_spans"))
        .join(cnt, "doc_id", "left")
        .select(
            "doc_id", "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.when(F.col("n_spans") > 0,
                       F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                       / F.col("n_spans"))
                .otherwise(F.lit(0.0)), 6).alias("dup_ratio"),
        )
    )
    return out


def ngram_jaccard_pairs(docs: DataFrame, n: int = 8,
                        threshold_num: int = 1, threshold_den: int = 2,
                        df_cap: int | None = None) -> DataFrame:
    """Exact character-n-gram Jaccard near-dup pairs — the same inverted-
    index plan as ``token_jaccard_pairs`` (shingle is the join key, one
    groupBy per pair, integer-only math) over the ``char_ngrams`` relation.

    ``df_cap`` plays the identical scale-guard role: shingles present in
    more than ``df_cap`` documents (boilerplate, whitespace runs) are
    dropped BEFORE sizes and intersections on both engines — they bound
    the per-shingle self-join at df_cap² and carry ~zero discrimination.
    """
    toks = char_ngrams(docs, n=n)
    if df_cap is not None:
        dfreq = (
            toks.groupBy("tok").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("tok")
        )
        toks = toks.join(dfreq, "tok")
    toks = toks.cache()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    b = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("szb")), "doc_b")
        .select("doc_a", "doc_b", "inter",
                (F.col("sza") + F.col("szb") - F.col("inter")).cast("long").alias("union_sz"))
        .filter(F.col("inter") * threshold_den >= F.col("union_sz") * threshold_num)
    )


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash signature: per-bit majority vote over the md5 bits of each
    distinct token.

    bit_j(doc) = 1 iff Σ_tokens (2·bit_j(md5(tok)) − 1) > 0, where
    bit_j(md5) = bit (j mod 4) of hex nibble ⌊j/4⌋ of the digest.  md5 (not
    xxhash64) so any engine with md5 + string ops reproduces the signature
    bit-for-bit for the correctness oracle.  All expressions are JVM-side
    built-ins (md5 / substring / instr / shift) — whole-stage codegen, one
    groupBy(doc_id) shuffle.
    """
    # digest once per token row; the 64 vote aggregates then read nibbles
    # from the same projected column (don't rely on the aggregate layer's
    # common-subexpression elimination to dedupe 64 md5 calls)
    toks = doc_tokens(docs).select("doc_id", F.md5("tok").alias("_h"))
    votes = []
    for j in range(bits):
        nibble = F.expr(
            f"instr('0123456789abcdef', substring(_h, {j // 4 + 1}, 1)) - 1"
        )
        bit = F.shiftright(nibble, j % 4).bitwiseAND(F.lit(1))
        votes.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{j}"))
    agg = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, blocks: int = 8,
                       max_hamming: int = 7) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a, doc_b, hamming) with
    hamming <= max_hamming, doc_a < doc_b.

    Candidates = pairs agreeing exactly on at least one of ``blocks``
    disjoint bit-blocks of the 64-bit signature (standard Hamming-distance
    LSH).  By pigeonhole, any pair within Hamming distance
    ``blocks - 1`` shares a full block, so with max_hamming < blocks the
    banded result is EXACT — identical to the brute-force all-pairs scan
    the small-scale oracle runs — while candidate generation stays an
    equi-join on (block index, block bits), never an all-pairs product.
    """
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming={max_hamming} needs blocks > max_hamming "
            f"(pigeonhole exactness); got blocks={blocks}"
        )
    sig = simhash(docs).cache()
    width = (64 + blocks - 1) // blocks
    keys = F.array(*[
        F.struct(
            F.lit(b).cast("long").alias("blk"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << min(width, 64 - b * width)) - 1)).alias("key"),
        )
        for b in range(blocks)
    ])
    bb = (
        sig.select("doc_id", "simhash", F.explode(keys).alias("bk"))
        .select("doc_id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    )
    a = bb.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "blk", "key")
    b = bb.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "blk", "key")
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        # hamming is already in the row — filter BEFORE the distinct so the
        # dedup shuffle carries only surviving pairs, not every collision
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Collapse a near-duplicate PAIR relation (doc_a, doc_b) into dedup
    clusters: (doc_id, canonical_id, cluster_size) for every document in
    at least one pair, canonical = smallest doc_id reachable through the
    near-dup graph (the FastSV min-label component), cluster_size = docs
    in that cluster.  The keep-one-per-cluster training-data cut is then
    ``filter(doc_id == canonical_id)`` plus the untouched singleton docs.

    Scale shape: the pair relation is already the sparse output of a
    banded LSH (never all-pairs), and the component sweep moves O(docs in
    pairs) state per round — the same cached-adjacency FastSV loop the
    link-graph queries run on billions of edges.
    """
    from graph_python_spark.algorithms.components import connected_components

    edges = pairs.select(F.col("doc_a").alias("i"), F.col("doc_b").alias("j"))
    labels, _rounds = connected_components(edges)
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "component")
        .select(F.col("id").alias("doc_id"),
                F.col("component").alias("canonical_id"),
                "cluster_size")
    )

def containment_pairs(docs: DataFrame, n: int = 8,
                      threshold_num: int = 1, threshold_den: int = 2,
                      df_cap: int | None = None) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT:
    C(A, B) = |A ∩ B| / min(|A|, |B|) — the Broder containment measure.
    Jaccard misses the sub-document case (a short doc wholly embedded in a
    long one has tiny |A∩B|/|A∪B| but containment ≈ 1), which is the
    dominant duplication mode in crawled training corpora (quoted posts,
    boilerplate-wrapped articles).

    Identical inverted-index plan to :func:`ngram_jaccard_pairs` — shingle
    join key, one groupBy per candidate pair, integer-only threshold math
    (inter·den ≥ min_sz·num, no float division) — only the denominator
    changes, so the same ``df_cap`` scale guard bounds the per-shingle
    self-join at df_cap².

    Returns (doc_a, doc_b, inter, min_sz) for unordered pairs (doc_a <
    doc_b) whose containment clears threshold_num/threshold_den.
    """
    toks = char_ngrams(docs, n=n)
    if df_cap is not None:
        dfreq = (
            toks.groupBy("tok").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("tok")
        )
        toks = toks.join(dfreq, "tok")
    toks = toks.cache()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    b = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("szb")), "doc_b")
        .select("doc_a", "doc_b", "inter",
                F.least(F.col("sza"), F.col("szb")).cast("long").alias("min_sz"))
        .filter(F.col("inter") * threshold_den >= F.col("min_sz") * threshold_num)
    )

def merge_near_dups(pairs: DataFrame, scores: DataFrame) -> DataFrame:
    """The MERGE POLICY step after near-dup detection: per dedup cluster
    keep the highest-quality member (ties broken by smallest doc_id), not
    the arbitrary min-id canonical — on crawled corpora the best-formatted
    copy of a duplicated article is what belongs in the training set.

    ``pairs`` is a near-dup pair relation (doc_a, doc_b); ``scores`` must
    carry (doc_id, quality) with a deterministic, engine-portable quality
    value (e.g. :func:`text.quality_score`, rounded to 6 dp).

    Scale shape: clusters via the cached-adjacency FastSV sweep
    (:func:`near_dup_clusters`), one O(docs-in-pairs) join to the score
    relation, and a per-cluster window whose frame is the cluster size —
    the same bounded-frame pattern as every per-neighbor aggregate.

    Returns (cluster_id, keep_doc_id, cluster_size, keep_quality), one row
    per near-dup cluster; singleton documents never enter a pair and are
    kept implicitly.
    """
    clusters = near_dup_clusters(pairs)
    ranked = (
        clusters.join(scores.select("doc_id", "quality"), "doc_id")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("canonical_id")
                .orderBy(F.desc("quality"), F.asc("doc_id"))))
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .select(F.col("canonical_id").alias("cluster_id"),
                F.col("doc_id").alias("keep_doc_id"),
                "cluster_size",
                F.col("quality").alias("keep_quality"))
    )


def source_overlap(docs: DataFrame, min_shared: int = 1,
                   shingle_width: int = 5,
                   df_cap: Optional[int] = None) -> DataFrame:
    """Cross-source content overlap ("fork detection"): for every pair of
    sources sharing >= ``min_shared`` content shingles, the shared count,
    Jaccard, and containment of their per-source shingle SETS.

    This is the repo-level view of the corpus north star: in a
    trillion-file repository table, pairs of repos with high containment
    are forks/vendored copies.  ``shingle_width`` > 0 keys on word
    ``shingle_width``-gram shingles (catches partial/vendored copies);
    ``shingle_width = 0`` keys on whole-document sha256(text) — the
    per-row invariant the corpus source exposes (sources/corpus.py
    content_sha256) — i.e. exact-file fork detection.

    Spark shape: distinct (source, md5(shingle)) → inverted index on the
    hash → hash-key self-join (sa < sb) → one groupBy((sa, sb)).count + a
    size join.  md5 (not xxhash64) so the DuckDB oracle replays the key
    byte-for-byte.  ``df_cap`` drops shingles present in more than df_cap
    sources (boilerplate like LICENSE text — near-zero pair
    discrimination, quadratic pair fan-out), the same frequency-sieve
    argument as token_jaccard_pairs' df_cap; set sizes stay the TRUE
    sizes so retained pairs keep exact denominators.  At 100 TB the only
    wide exchange is the hash-keyed shuffle; pair fan-out per shingle is
    bounded by df_cap².
    """
    if shingle_width <= 0:
        keyed = docs.select(
            F.col("source"), F.sha2(F.col("text"), 256).alias("h"))
    else:
        w = shingle_width
        shingles = F.expr(
            f"CASE WHEN size(toks) < {w} THEN array()"
            f" ELSE transform(sequence(1, size(toks) - {w - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {w}))) END")
        keyed = (
            docs.select("source", tokens_col().alias("toks"))
            .select("source", F.explode(shingles).alias("sg"))
            .select("source", F.md5(F.col("sg")).alias("h"))
        )
    sh = keyed.distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    idx = sh
    if df_cap is not None:
        freq = sh.groupBy("h").agg(F.count("*").alias("_df"))
        idx = sh.join(freq.filter(F.col("_df") <= df_cap).select("h"), "h")
    pairs = (
        idx.alias("a")
        .join(idx.alias("b"),
              (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("_na"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("_nb"))
    return (
        pairs.join(na, "src_a").join(nb, "src_b")
        .select(
            "src_a", "src_b", "shared",
            F.round(F.col("shared") / (F.col("_na") + F.col("_nb") - F.col("shared")), 6)
            .alias("jaccard"),
            F.round(F.col("shared") / F.least(F.col("_na"), F.col("_nb")), 6)
            .alias("containment"),
        )
    )
