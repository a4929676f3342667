"""Iteration driver utilities: lineage truncation + checkpoint/resume.

Iterative semiring algorithms (PageRank, FastSV, LPA, SSSP) re-derive a
DataFrame from the previous iteration's; without truncation the logical plan
grows per iteration and Catalyst re-optimization dominates runtime.  Each
iteration therefore ends in either:

  * ``materialize`` — ``localCheckpoint(eager=True)``: compute + pin the
    partitions, drop lineage (fast path; not fault-tolerant), or
  * ``IterationState.save`` — parquet state + JSON manifest (iteration #,
    metrics, per-partition lineage), the durable checkpoint the north rule
    requires: a killed run resumes mid-iteration from the last manifest.

:func:`fixpoint` is the one place a loop pins and frees: it pins each
round's state, reads the round's convergence aggregate from that same pin
(``DataFrame.observe``, no second job), hands old and new state to the
loop's own hook, and then releases the replaced state.  Loops write only
their step; :func:`frontier_fixpoint` writes the step of a frontier
push.  :func:`release` is the one free call for anything a loop built,
pinned or cached.

The reference's only analogue is nonblocking-mode ``wait()``
(``graphblas/core/matrix.py:778-803``); resumability is new engineering for
the 100 TB setting.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def materialize(df: DataFrame) -> DataFrame:
    """Compute now; truncate lineage. Keeps the current partitioning."""
    return df.localCheckpoint(eager=True)


def release(*dfs: Optional[DataFrame]) -> None:
    """Free the blocks of frames pinned by :func:`materialize` or cached.

    ``DataFrame.unpersist()`` does nothing to a localCheckpoint: its RDD
    is not in the cache manager, so the blocks stay until the session
    ends.  This unpersists the checkpoint RDD under a pinned frame's
    ``LogicalRDD`` plan directly, unpersists a cached frame, and leaves
    any other frame alone (a lazy frame, a projection of a pinned one, a
    state read back from parquet, or None for a loop's not-yet-existing
    previous state).  Call it only after the frame's last read: a later
    read of a pinned frame fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    and one of a cached frame recomputes it."""
    for df in dfs:
        if df is None:
            continue
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        elif df.storageLevel.useMemory or df.storageLevel.useDisk:
            df.unpersist()


def fixpoint(state: Optional[DataFrame], step: Callable[..., DataFrame],
             rounds: int, *, changed: Optional[Column] = None,
             after: Optional[Callable[..., Any]] = None,
             ) -> tuple[Optional[DataFrame], int]:
    """Run at most ``rounds`` rounds of ``state = step(state)``; returns
    ``(state, rounds_run)``.

    Each round: ``new = step(state)``; ``changed`` (a Column aggregate),
    when given, is attached to ``new`` with a fresh ``Observation``; ``new``
    is pinned by :func:`materialize`, which also computes the observed
    value — no second job; ``after(old, new, k)`` (k = 0-based round)
    runs while both are readable, and a true return stops the loop; the
    old state is released; a ``changed`` value of 0, False or null stops
    the loop after this round.

    The returned state is the pinned frame itself (a bare ``LogicalRDD``
    plan), so the caller's later :func:`release` frees it; with
    ``rounds`` = 0 it is the given state.  The given state is released
    after the first round, so pass a projection (which release leaves
    alone) of any pinned frame the caller still reads, and do renames
    and projections inside ``step`` or after the loop, never on the
    state in between."""
    done = 0
    while done < rounds:
        new = step(state)
        obs = None
        if changed is not None:
            obs = Observation()
            new = new.observe(obs, changed.alias("changed"))
        new = materialize(new)
        stop = after(state, new, done) if after is not None else False
        release(state)
        state, done = new, done + 1
        if stop or (obs is not None and not obs.get["changed"]):
            break
    return state, done



def frontier_fixpoint(start: DataFrame,
                      expand: Callable[[DataFrame], DataFrame],
                      keys: list[str], rounds: int,
                      ) -> tuple[DataFrame, int]:
    """Grow a keyed reached set by frontier pushes, on :func:`fixpoint`.

    ``start`` holds the key columns, then any value columns, one row per
    key.  The state is those rows plus a ``_new`` flag that marks the
    frontier.  A round maps the frontier rows through ``expand`` to
    candidates (the same columns, one row per key) and merges in the
    ones the state lacks as the next frontier: ``q(~v.S) << q.vxm(A)``
    as one full outer join.  The loop stops after ``rounds`` rounds or on
    the round that adds no row, read off the pin.  Returns
    ``(state, rounds_run)`` like :func:`fixpoint`: the pinned state,
    ``_new`` included, which the caller releases."""
    values = [c for c in start.columns if c not in keys]

    def step(state: DataFrame) -> DataFrame:
        cand = expand(state.filter(F.col("_new"))).select(
            *keys, *(F.col(v).alias(f"_c{v}") for v in values))
        return (state.join(cand, keys, "full_outer")
                .select(*keys,
                        *(F.coalesce(v, f"_c{v}").alias(v) for v in values),
                        F.col("_new").isNull().alias("_new")))

    return fixpoint(start.select("*", F.lit(True).alias("_new")), step,
                    rounds, changed=F.max("_new"))


@contextmanager
def loop_conf(spark: SparkSession):
    """Disable AQE and constraint propagation for the duration of a fixed
    iterative loop, restoring the previous settings on exit.

    AQE re-optimizes at every shuffle-stage materialization; in an
    iterative loop the per-round plan is identical every time, so the
    barriers and re-planning are pure overhead — measured 42s -> 13s on
    the 20-iteration sf0.1 PageRank headline query.  (The scaling bench
    subprocesses set the same conf statically; this context manager brings
    the win to library callers running inside an AQE-enabled session.)

    Constraint propagation is likewise planning-only overhead on pinned
    per-round plans, and its union rewrite is buggy in Spark 4: checkpoint
    of a union with >= 2 LogicalRDD children throws "key not found: id#N"
    in UnionBase.rewriteConstraints (reproduced on a 300k+-vertex union
    of pinned SCC parts; any loop that pins a union of pinned frames
    each round would hit it).  Runtime-settable confs: results are
    identical either way.
    """
    keys = ("spark.sql.adaptive.enabled",
            "spark.sql.constraintPropagation.enabled")
    olds = {k: spark.conf.get(k, "true") for k in keys}
    for k in keys:
        spark.conf.set(k, "false")
    try:
        yield
    finally:
        for k, v in olds.items():
            spark.conf.set(k, v)


@contextmanager
def loop_shuffle_width(spark: SparkSession, n_vertices: int,
                       per_partition: int = 50_000):
    """Size-derived shuffle width for a fixed iterative loop — the static
    stand-in for the AQE partition coalescing that :func:`loop_conf`
    turns off.  A loop over a small frontier pays per-task scheduling
    overhead on every one of its (iterations x stages) shuffles; width
    ~ vertices / per_partition caps that without touching large runs:
    the session's configured width is always the upper bound, so a
    1000-executor job keeps its thousands of partitions while a 15k-vertex
    local run drops from 32-task to 4-task stages (measured 15.9s -> 9.4s
    on the 20-iteration sf0.1 pagerank headline).  Restores the previous
    width on exit."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    configured = int(old)
    width = min(configured, max(4, -(-n_vertices // per_partition)))
    spark.conf.set(key, str(width))
    try:
        yield width
    finally:
        spark.conf.set(key, old)


def iterative(fn):
    """Decorator for algorithms whose body is a fixed iterative loop over
    the first (DataFrame) argument's session: runs the whole call under
    :func:`loop_conf`.  The returned DataFrame's final actions execute
    after restore — only the loop's own materializations are affected."""
    import functools

    @functools.wraps(fn)
    def wrapper(edges, *args, **kwargs):
        with loop_conf(edges.sparkSession):
            return fn(edges, *args, **kwargs)

    return wrapper


class IterationState:
    """Durable per-iteration checkpoint: parquet state + manifest.json.

    Layout:
      <root>/manifest.json                 {"iteration": k, "metrics": {...},
                                            "states": {name: path}, "ts": ...}
      <root>/iter=<k>/<name>/              parquet (per-partition files = the
                                           per-partition lineage the manifest
                                           records via numPartitions)
    Only the latest two iterations are retained.
    """

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def load_manifest(self) -> Optional[dict]:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            return json.load(f)

    def save(self, iteration: int, states: dict[str, DataFrame],
             metrics: dict[str, Any]) -> dict:
        paths = {}
        parts = {}
        for name, df in states.items():
            path = os.path.join(self.root, f"iter={iteration}", name)
            df.write.mode("overwrite").parquet(path)
            paths[name] = path
            parts[name] = df.rdd.getNumPartitions()
        manifest = {
            "iteration": iteration,
            "states": paths,
            "partitions": parts,
            "metrics": metrics,
            "ts": time.time(),
        }
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic: crash keeps old manifest
        self._gc(keep={iteration, iteration - 1})
        return manifest

    def restore(self) -> Optional[tuple[int, dict[str, DataFrame], dict]]:
        m = self.load_manifest()
        if m is None:
            return None
        states = {name: self.spark.read.parquet(p) for name, p in m["states"].items()}
        return m["iteration"], states, m.get("metrics", {})

    def _gc(self, keep: set[int]) -> None:
        import shutil

        for entry in os.listdir(self.root):
            if entry.startswith("iter="):
                k = int(entry.split("=", 1)[1])
                if k not in keep:
                    shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)
