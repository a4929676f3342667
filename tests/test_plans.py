"""Plan audit over EVERY queries() entry (the Spark analogue of the
reference's ``tests/test_recorder.py`` physical-plan regression surface).

Scale rules enforced on the optimized physical plan of all 144 queries:

  * ``CartesianProduct`` is forbidden everywhere, no exceptions — an
    unbounded row-pair product is a 100-TB catastrophe.
  * ``BroadcastNestedLoopJoin`` is allowed only where the algorithm IS a
    broadcast-small-side scan by design, with a pinned maximum count:
    either a broadcast query/centroid set scored against every row
    (O(n × small), scan-bounded), a crossJoin of a 1-row global aggregate
    (corpus stats, vertex counts, fold results), or an operator whose
    SEMANTICS are a pairwise product (kronecker / outer product — output
    size is the product; the small side is broadcast).
  * ``Exchange SinglePartition`` is allowed only with a pinned maximum
    count, for 1-row global folds (reduce-to-scalar aggregates) and the
    bounded ≤256-row offset relations of the two-phase prefix-sum /
    quantile designs.

Any NEW nested-loop join or single-partition exchange — in a listed query
beyond its pinned count, or in any unlisted query — fails the suite.
"""

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# name -> (max BroadcastNestedLoopJoin, reason)
BNLJ_ALLOW = {
    "ann_cosine_topk": (1, "brute-force baseline: broadcast query set scans all vectors"),
    "ivf_topk": (2, "centroid routing + probe: broadcast centroid array, by design"),
    "ivf_pq": (2, "IVF routing + probe: broadcast centroid array, by design"),
    "ivf_pq_residual": (3, "coarse-kmeans centroid fold + IVF probe + PQ "
                           "centroid-array fold — all broadcast 1-row/"
                           "n_cells-row relations, by design"),
    "kronecker": (1, "operator semantics ARE the pairwise product; small side broadcast"),
    "outer_product": (1, "u⊗v semantics; one side broadcast"),
    "ewise_add_vector": (1, "broadcast 1-row dense-extent aggregate"),
    "bm25": (1, "broadcast 1-row corpus stats (N, avgdl)"),
    "centroid_classify": (1, "broadcast centroid-array 1-row fold"),
    "conductance": (1, "broadcast 1-row total-volume fold"),
    "corpus_stats": (1, "broadcast 1-row corpus aggregate"),
    "kmeans": (1, "broadcast 1-row centroid-array fold (zero-shuffle assignment)"),
    "semdedup": (3, "kmeans centroid fold + within-cluster stats broadcasts"),
    "tfidf_topk": (1, "broadcast 1-row document-count fold"),
    "triad_census": (1, "broadcast 1-row edge/vertex-count fold"),
    "attr_assortativity": (1, "broadcast 1-row moment fold"),
    "degree_drift": (3, "two snapshot 1-row mass folds + TV-distance merge"),
    "pmi_topk": (1, "broadcast 1-row total-bigram-count fold"),
    "heavy_hitters": (1, "broadcast 1-row total-token-count fold"),
    "eff_diameter": (1, "broadcast 1-row N(radius) fold from the NF curve"),
    "nmi": (1, "broadcast 1-row total-count fold"),
    "dsir_weights": (1, "broadcast 1-row corpus-total fold into the "
                        "bucket log-ratio table"),
}

# name -> (max Exchange SinglePartition, reason)
SP_ALLOW = {
    "reduce_scalar": (1, "the operator IS a 1-row global fold"),
    "triangle_count": (1, "1-row global count"),
    "four_cycles": (1, "1-row global count"),
    "modularity": (1, "1-row global modularity fold"),
    "assortativity": (1, "1-row moment fold"),
    "attr_assortativity": (2, "per-attribute moment folds"),
    "degree_quantiles": (1, "quantile merge over a ≤256-row per-partition sketch"),
    "powerlaw_alpha": (1, "1-row Hill-estimator fold"),
    "pack_sequences": (1, "two-phase prefix sum: ≤256-row partition-offset relation"),
    "shard_assign": (1, "two-phase rank: ≤256-row partition-offset relation"),
    "pipeline_pack": (1, "same prefix-sum offsets inside the e2e composite"),
    "bm25": (1, "1-row corpus-stats fold"),
    "centroid_classify": (1, "1-row centroid-array fold"),
    "conductance": (1, "1-row volume fold"),
    "corpus_stats": (1, "1-row corpus aggregate"),
    "kmeans": (1, "1-row centroid-array fold"),
    "semdedup": (3, "centroid fold + per-cluster stats folds"),
    "tfidf_topk": (1, "1-row document-count fold"),
    "triad_census": (2, "count folds feeding the census algebra"),
    "degree_drift": (3, "snapshot mass folds"),
    "degree_relabel": (1, "two-phase rank: ≤256-row partition-offset relation"),
    "relabel_locality": (3, "rank offsets (×2 mapping reuse) + 1-row gap fold"),
    "pmi_topk": (1, "1-row total-bigram-count fold"),
    "heavy_hitters": (1, "1-row total-token-count fold"),
    "triangles_incr": (1, "the operator RETURNS a 1-row delta count"),
    "nmi": (2, "1-row total fold + single global metric fold"),
    "spearman": (3, "two ≤P-row rank-offset relations + 1-row fold"),
    "ivf_pq_residual": (2, "1-row centroid-array folds (coarse kmeans + "
                           "PQ init), the kmeans precedent"),
    "dsir_weights": (1, "1-row corpus-total fold"),
}


@pytest.fixture(scope="module")
def all_plans(spark):
    """Build every query's optimized physical plan once (no execution
    beyond what the builders themselves materialize)."""
    qs = entrymod.queries()
    plans = {}
    for name, fn in qs.items():
        df = fn(spark, SF_DIR)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    return plans


def _names():
    return sorted(entrymod.queries())


@pytest.mark.parametrize("name", _names())
def test_plan_scale_rules(all_plans, name):
    plan = all_plans[name]
    assert "CartesianProduct" not in plan, (
        f"{name} plans a cartesian product")

    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    max_bnlj = BNLJ_ALLOW.get(name, (0, ""))[0]
    assert n_bnlj <= max_bnlj, (
        f"{name}: {n_bnlj} BroadcastNestedLoopJoin (allowed {max_bnlj}"
        f"{' — ' + BNLJ_ALLOW[name][1] if name in BNLJ_ALLOW else ''})")

    n_sp = plan.count("Exchange SinglePartition")
    max_sp = SP_ALLOW.get(name, (0, ""))[0]
    assert n_sp <= max_sp, (
        f"{name}: {n_sp} Exchange SinglePartition (allowed {max_sp}"
        f"{' — ' + SP_ALLOW[name][1] if name in SP_ALLOW else ''})")


def test_allowlists_not_stale():
    """Every allowlist entry must name a real query — dead entries hide
    regressions when a query is renamed."""
    names = set(entrymod.queries())
    assert set(BNLJ_ALLOW) <= names
    assert set(SP_ALLOW) <= names


def test_loop_shuffle_width_bounds_and_restore(spark):
    from graph_python_spark.plans.iterate import loop_shuffle_width

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    configured = int(before)

    # small frontier: width shrinks to the 4-partition floor
    with loop_shuffle_width(spark, 10_000) as w:
        assert w == min(configured, 4)
        assert spark.conf.get(key) == str(w)
    assert spark.conf.get(key) == before

    # large frontier: the configured session width is the upper bound, so
    # a cluster-sized run keeps its partitioning untouched
    with loop_shuffle_width(spark, 10_000_000) as w:
        assert w == configured
        assert spark.conf.get(key) == before

    # mid-size: ceil(n / per_partition)
    with loop_shuffle_width(spark, 260_000, per_partition=50_000) as w:
        assert w == min(configured, 6)
    assert spark.conf.get(key) == before

    # restore happens even if the loop body raises
    try:
        with loop_shuffle_width(spark, 10_000):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def _plan_nodes(plan) -> list[str]:
    """Operator names of a physical plan, pre-order.  An InMemoryTableScan
    has no children, so a cached relation's own build plan (run once,
    before the loop) is not counted."""
    names = [plan.nodeName()]
    children = plan.children()
    for k in range(children.size()):
        names += _plan_nodes(children.apply(k))
    return names


def test_pagerank_step_one_exchange(spark):
    """PageRank's per-iteration step under loop_conf plans exactly one
    exchange (the partial-aggregation one), no broadcast and no sort-merge
    join — for a small contribution vector and for one past 1M rows, where
    a size-picked join would switch strategy."""
    import importlib

    from pyspark.sql import functions as F

    from graph_python_spark.plans.iterate import loop_conf, loop_shuffle_width

    pr = importlib.import_module("graph_python_spark.algorithms.pagerank")
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)],
                              "i long, j long")
    prepared = pr.prepare_graph(e)
    for rows in (10, 1_200_000):
        with loop_conf(spark), loop_shuffle_width(spark, prepared.n) as width:
            # a contrib as the loop pins it: hash(i) at the loop width; the
            # lazy pin keeps the row-count stats the planner sizes joins by
            contrib = (spark.range(rows)
                       .select(F.col("id").alias("i"), F.lit(1.0).alias("c"))
                       .repartition(width, "i").localCheckpoint(eager=False))
            plan = pr._step(prepared.adj, 0.1, 0.2, contrib)
            nodes = _plan_nodes(plan._jdf.queryExecution().executedPlan())
        assert nodes.count("Exchange") == 1, (rows, nodes)
        below = [n for n in nodes[nodes.index("Exchange") + 1:]
                 if n != "InputAdapter" and not n.startswith("WholeStageCodegen")]
        assert below[0] == "HashAggregate", (rows, nodes)
        assert "BroadcastExchange" not in nodes, (rows, nodes)
        assert "SortMergeJoin" not in nodes, (rows, nodes)
        assert "ShuffledHashJoin" in nodes, (rows, nodes)
    prepared.adj.unpersist()
    prepared.vertices.unpersist()


def test_simrank_sweep_one_exchange(spark):
    """A SimRank sweep plans one exchange, the hash(x) repartition of the
    half-expanded pairs: with the adjacency broadcast into the join on j,
    the rows reach the (x, y) aggregate still hash(x)-partitioned, so no
    exchange sits between the out(j) explode and the aggregate, and no
    join sorts."""
    from graph_python_spark.algorithms.simrank import simrank

    e = spark.createDataFrame([(a, (a * 7 + 3) % 30) for a in range(30)]
                              + [(a, (a + 1) % 30) for a in range(30)],
                              "src long, dst long")
    s = simrank(e, iters=1)
    # the first action fills the adjacency and in-degree caches; s's own
    # plan, made after it, sizes its joins by their real sizes, as AQE
    # does at run time
    assert s.count() > 0
    nodes = _plan_nodes(s._jdf.queryExecution().executedPlan())
    assert nodes.count("Exchange") == 1, nodes
    assert "SortMergeJoin" not in nodes, nodes
    agg = nodes.index("HashAggregate")
    gen = nodes.index("Generate", agg)
    assert "Exchange" not in nodes[agg:gen], nodes
    assert nodes.index("Exchange") > gen, nodes


def _pinned_rdd(df) -> int:
    """The checkpoint RDD id under a pinned frame's bare LogicalRDD plan."""
    plan = df._jdf.logicalPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD", plan
    return plan.rdd().id()


def _jobs(sc, group: str, fn):
    """(fn(), number of Spark jobs fn ran), from the status tracker."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixpoint(spark):
    """The loop driver releases every replaced pin (the given one too),
    returns the last pin itself, lets ``after`` read old and new before
    the release, and stops after the first round whose ``changed``
    aggregate is false — read from the pin, with no job of its own."""
    from pyspark.sql import functions as F

    from graph_python_spark.plans.iterate import fixpoint, materialize

    sc = spark.sparkContext

    def step(s):
        nx = F.greatest(F.col("x") - 1, F.lit(0))
        return s.select("i", nx.alias("x"), (nx != F.col("x")).alias("_chg"))

    def start():
        return materialize(
            spark.createDataFrame([(0, 3), (1, 1)], "i long, x long"))

    seen = []

    def after(old, new, k):
        seen.append((k, sorted(r["x"] for r in old.collect()),
                     sorted(r["x"] for r in new.collect()), _pinned_rdd(new)))

    s0 = start()
    first = _pinned_rdd(s0)
    out, rounds = fixpoint(s0, step, 10, changed=F.max("_chg"), after=after)
    # three rounds change x, the fourth is the first unchanged one
    assert rounds == 4
    assert [t[:3] for t in seen] == [(0, [1, 3], [0, 2]), (1, [0, 2], [0, 1]),
                                     (2, [0, 1], [0, 0]), (3, [0, 0], [0, 0])]
    assert _pinned_rdd(out) == seen[-1][3]
    persistent = set(sc._jsc.getPersistentRDDs().keys())
    assert not persistent & ({first} | {t[3] for t in seen[:-1]}), persistent
    assert seen[-1][3] in persistent
    assert sorted(r["x"] for r in out.collect()) == [0, 0]

    # reading `changed` costs no job: the same 4 rounds without it run
    # exactly as many
    (_, n), observed = _jobs(sc, "fixpoint-changed", lambda: fixpoint(
        start(), step, 10, changed=F.max("_chg")))
    _, fixed = _jobs(sc, "fixpoint-fixed", lambda: fixpoint(start(), step, 4))
    assert n == 4 and observed == fixed, (observed, fixed)

    # no round: the given state comes back as it is
    s0 = start()
    same, n = fixpoint(s0, step, 0)
    assert same is s0 and n == 0


def test_bowtie_frees_single_part_scc(spark):
    """A graph that SCC's trim resolves in one pass (every vertex is a
    source or a sink): ``bowtie_decomposition`` frees the SCC labels
    too and leaves only its pinned regions."""
    from graph_python_spark.algorithms.bowtie import bowtie_decomposition

    sc = spark.sparkContext
    e = spark.createDataFrame([(0, 1), (0, 2), (3, 1)], "i long, j long")
    first = sc.parallelize([0]).id()
    out = bowtie_decomposition(e)
    left = sum(1 for k in sc._jsc.getPersistentRDDs().keys() if k > first)
    assert left == 1, left
    # all SCCs are singletons: CORE is the smallest id
    assert sorted((r["id"], r["region"]) for r in out.collect()) == [
        (0, "CORE"), (1, "OUT"), (2, "OUT"), (3, "TENDRIL")]


# algorithm -> (round keyword, persistent RDDs a call may leave: the
# frames its lazy result reads)
LOOPS = {
    # the vertex cache and the last contrib
    "pagerank.pagerank_fixed": ("iterations", 2),
    # the pinned vertices, hub and authority vectors
    "centrality.hits_fixed": ("iterations", 3),
    # the last pinned round, nothing else
    "centrality.katz_fixed": ("iterations", 1),
    "components.connected_components": ("max_rounds", 1),
    "labelprop.label_propagation": ("max_sweeps", 1),
    "traversal.dag_longest_path_levels": ("rounds", 1),
    "anf.anf_sketches": ("radius", 1),
    # the last pinned vertex state (levels, colors, set flags, reached
    # (tag, id) or (sample, id) pairs)
    "traversal.bfs_levels": ("max_depth", 1),
    "coloring.greedy_coloring": ("max_rounds", 1),
    "mis.maximal_independent_set": ("max_rounds", 1),
    "bowtie.reach_from": ("max_rounds", 1),
    "influence.influence_spread": ("rounds", 1),
    # the pinned regions: the SCC labels and both sweeps are freed
    "bowtie.bowtie_decomposition": ("max_rounds", 1),
    # the last pinned vertex or edge state (or, for a k-truss cut at
    # max_rounds, the pinned support it reports)
    "kcore.kcore": ("max_rounds", 1),
    "kcore.s_core": ("max_rounds", 1),
    "ktruss.ktruss": ("max_rounds", 1),
    # the pinned labels (the fixture is a DAG: trim resolves it in one
    # outer round); condensation's result also reads the pinned levels
    "scc.strongly_connected_components": ("max_label_rounds", 1),
    "scc._trim": ("rounds", 1),
    "scc.condensation": ("max_label_rounds", 2),
}


def _seed0(e):
    return e.sparkSession.createDataFrame([(0,)], "id long")


def _falling_prio(e):
    """``e`` relabeled so that vertex v becomes the v-th id of 0..63 by
    falling MIS priority: a path (v, v + 1) then settles about one
    vertex per MIS round instead of resolving in two."""
    from pyspark.sql import functions as F

    from graph_python_spark.algorithms.mis import PRIO_MOD, PRIO_MULT

    order = F.array(*(F.lit(v) for v in sorted(
        range(64), key=lambda v: -(v * PRIO_MULT % PRIO_MOD))))
    return {"edges": e.select(*(
        F.element_at(order, (F.col(c) + 1).cast("int")).cast("long").alias(c)
        for c in ("i", "j")))}


def _with_chords(e):
    """``e`` plus the edge (i, j + 1) for every edge (i, j): on a path,
    the triangle strip whose k-core and k-truss peel from the ends."""
    from pyspark.sql import functions as F

    return e.unionByName(e.select("i", (F.col("j") + 1).alias("j")))


def _trim_args(e):
    """SCC's trim over ``e`` with every vertex live."""
    from pyspark.sql import functions as F

    from graph_python_spark.algorithms.scc import tagged_edges

    ids = e.select(F.col("i").alias("id")).union(e.select("j")).distinct()
    return {"edges": tagged_edges(e),
            "labels": ids.select("id", F.lit(None).cast("long")
                                 .alias("component"))}


# algorithm -> e -> the arguments it needs besides the rounds; an
# "edges" entry replaces the (i, j) edge frame
LOOP_ARGS = {
    "kcore.kcore": lambda e: {"edges": _with_chords(e), "k": 3},
    "kcore.s_core": lambda e: {"edges": _with_chords(e).selectExpr(
        "i", "j", "1.0 AS v"), "s": 3.0},
    "ktruss.ktruss": lambda e: {"edges": _with_chords(e), "k": 4},
    "scc._trim": _trim_args,
    "traversal.bfs_levels": lambda e: {"source": 0},
    "bowtie.reach_from": lambda e: {"edges": e.toDF("s", "d"),
                                    "seeds": _seed0(e)},
    "influence.influence_spread": lambda e: {"seeds": _seed0(e), "p": 1.0},
    "mis.maximal_independent_set": _falling_prio,
}


def _run_loop(algo, e, rounds):
    """Call ``algo`` on the edges ``e`` for ``rounds`` rounds, with the
    arguments LOOP_ARGS gives it."""
    import importlib

    module, name = algo.split(".")
    run = getattr(importlib.import_module(
        f"graph_python_spark.algorithms.{module}"), name)
    args = LOOP_ARGS.get(algo, lambda e: {})(e)
    return run(args.pop("edges", e), **{LOOPS[algo][0]: rounds}, **args)


@pytest.mark.parametrize("algo", sorted(LOOPS))
def test_loops_release_pinned_state(spark, algo):
    """Each loop frees an iteration's pinned state after its last read,
    and whatever else it built for itself once the loop is done, so a
    call leaves only the frames its result reads, whatever the iteration
    count (``DataFrame.unpersist`` never frees a localCheckpoint).
    Collecting the result proves nothing it still reads was freed."""
    result_frames = LOOPS[algo][1]
    sc = spark.sparkContext
    left = {}
    for rounds in (2, 8):
        # a fresh frame per run: a cached plan shared with the other run
        # would hide its cache() from the count.  Acyclic, as
        # dag_longest_path_levels requires.
        e = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (1, 3), (3, 2)],
                                  "i long, j long")
        # RDD ids only grow: count the call's own RDDs, whatever the
        # context cleaner frees of earlier tests' meanwhile
        first = sc.parallelize([0]).id()
        out = _run_loop(algo, e, rounds)
        if isinstance(out, tuple):
            out = out[0]
        left[rounds] = sum(
            1 for k in sc._jsc.getPersistentRDDs().keys() if k > first)
        assert out.collect()
    assert left[2] == left[8] == result_frames, left


@pytest.mark.parametrize("algo", ["components.connected_components",
                                  "labelprop.label_propagation",
                                  "coloring.greedy_coloring",
                                  "mis.maximal_independent_set",
                                  "traversal.bfs_levels",
                                  "bowtie.reach_from",
                                  "kcore.kcore",
                                  "ktruss.ktruss",
                                  "scc._trim"])
def test_converged_loops_one_job_per_round(spark, algo):
    """A converging CC, label-propagation, coloring, MIS, frontier-BFS,
    k-core, k-truss or SCC-trim round is one job: the pin.  Its change
    flag rides in the pinned state and is read off that pin, so no
    second aggregate, count, emptiness probe or old ⋈ new probe job runs
    per round.  Jobs come from the status tracker, 1 round against 3 on a
    path that needs more than 3 to converge, with broadcast joins and
    runtime bloom filters off: either adds a job of its own to a round
    over a tiny vertex state (CC's grandparent self-join gets a
    bloom-filter subquery), whatever the convergence test costs."""
    sc = spark.sparkContext
    # MIS runs two state rounds per Luby round its max_rounds counts
    per = 2 if algo == "mis.maximal_independent_set" else 1
    off = {"spark.sql.autoBroadcastJoinThreshold": "-1",
           "spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}
    before = {k: spark.conf.get(k) for k in off}
    for k, v in off.items():
        spark.conf.set(k, v)
    jobs = {}
    try:
        for rounds in (1, 3):
            e = spark.createDataFrame([(v, v + 1) for v in range(40)],
                                      "i long, j long")
            out, jobs[rounds] = _jobs(
                sc, f"{algo}-rounds-{rounds}",
                lambda: _run_loop(algo, e, rounds))
            if isinstance(out, tuple):
                assert out[1] == per * rounds
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert (jobs[3] - jobs[1]) / (2 * per) == 1, jobs


@pytest.mark.parametrize("algo", ["minplus_fixed_rounds",
                                  "landmark_distances",
                                  "dag_longest_path_levels"])
def test_fixed_unrolls_stop_at_fixpoint(spark, algo):
    """Min-plus and max-plus rounds past the fixpoint are the identity,
    so a fixed-unroll relaxation stops on the round that changes no
    value, read off the pin: on a depth-2 DAG, 40 rounds run as many
    jobs as 3 and give the same rows."""
    from graph_python_spark.algorithms import traversal

    args = {"minplus_fixed_rounds": {"source": 0},
            "landmark_distances": {"landmarks": [0]}}.get(algo, {})
    sc = spark.sparkContext
    jobs, rows = {}, {}
    for rounds in (3, 40):
        e = spark.createDataFrame([(0, 1), (1, 2), (0, 3)], "i long, j long")
        out, jobs[rounds] = _jobs(
            sc, f"{algo}-unroll-{rounds}",
            lambda: getattr(traversal, algo)(e, rounds=rounds, **args))
        rows[rounds] = sorted(tuple(r) for r in out.collect())
    assert jobs[40] == jobs[3], jobs
    assert rows[40] == rows[3]


def test_mis_warns_at_cap(spark):
    """An MIS run cut at ``2 * max_rounds`` rounds with vertices still
    active warns; a run that finishes first does not."""
    import warnings

    from graph_python_spark.algorithms.mis import maximal_independent_set

    e = _falling_prio(spark.createDataFrame(
        [(v, v + 1) for v in range(12)], "i long, j long"))["edges"]
    with pytest.warns(RuntimeWarning, match="max_rounds=2"):
        maximal_independent_set(e, max_rounds=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        maximal_independent_set(e, max_rounds=30)


@pytest.mark.parametrize("algo", ["hits_fixed", "salsa_fixed"])
def test_hits_salsa_four_stages_per_round(spark, algo):
    """A HITS or SALSA round is two SpMV half-steps of two stages each:
    the second half reads the pinned first, so nothing is computed twice.
    Stages come from the status tracker, 1 round against 3."""
    from graph_python_spark.algorithms import centrality

    sc = spark.sparkContext
    stages = {}
    for rounds in (1, 3):
        e = spark.createDataFrame([(i, (i * 7 + 3) % 50) for i in range(50)]
                                  + [(i, (i + 1) % 50) for i in range(50)],
                                  "i long, j long")
        group = f"{algo}-rounds-{rounds}"
        sc.setJobGroup(group, group)
        try:
            getattr(centrality, algo)(e, iterations=rounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        stages[rounds] = sum(len(st.getJobInfo(j).stageIds)
                             for j in st.getJobIdsForGroup(group))
    assert (stages[3] - stages[1]) / 2 == 4, stages
