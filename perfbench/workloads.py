"""The benchmark's workloads.  Each one drives the engine only through its
public calls, every call inside a span named after the layer it enters.

A workload has four steps:

* ``prepare`` (untimed, before Spark): generate inputs, compute references;
* ``load`` (timed as set-up): read the inputs, cache them, count them;
* ``job`` (timed): the calls under test, ending with the result collected;
* ``check`` (untimed): compare every operation's output with its reference.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass

import inputs
import oracles

PAGERANK_VERTICES = 100_000
PAGERANK_ITERS = 10
SF = 0.01
QUERIES = ("pagerank", "cc_converged", "kcore", "triangle_count",
           "mxm_plus_times", "degree_out")
PAIRS = ("simrank", "minhash_lsh")


@dataclass
class Output:
    """One operation's result (None when it raised) and its error text."""

    name: str
    frame: object = None
    error: str | None = None


class PageRankZipf:
    name = "pagerank_zipf"

    def prepare(self, work: str, seed: int) -> dict:
        path, src, dst = inputs.zipf_edges(os.path.join(work, "inputs"), seed,
                                           PAGERANK_VERTICES)
        ids, ref = oracles.pagerank_3f(src, dst, PAGERANK_ITERS)
        # the program module loads here, before anything is timed
        pr = importlib.import_module("graph_python_spark.algorithms.pagerank")
        return {"path": path, "nnz": int(src.size), "ids": ids, "ref": ref, "pr": pr,
                "inputs": {"graph": "zipf", "vertices": PAGERANK_VERTICES,
                           "edges": int(src.size), "iterations": PAGERANK_ITERS,
                           "seed": seed}}

    def load(self, spark, state):
        edges = spark.read.parquet(state["path"]).cache()
        edges.count()
        return {"edges": edges}

    def job(self, spark, state, loaded, tracer) -> list[Output]:
        pr = state["pr"]
        edges = loaded["edges"]
        with tracer.span("blocks.adjacency_build"):
            prepared = pr.prepare_graph(edges)
        loaded["prepared"] = prepared
        with tracer.span("pagerank.loop"):
            scores = pr.pagerank_fixed(edges, iterations=PAGERANK_ITERS, prepared=prepared)
        with tracer.span("pagerank.finalize"):
            pdf = scores.toPandas()
        return [Output("pagerank", pdf)]

    def check(self, state, out: Output) -> list[str]:
        return oracles.check_pagerank(out.frame, state["ids"], state["ref"])

    def edge_passes(self, state) -> int:
        return state["nnz"] * PAGERANK_ITERS

    def layer_metrics(self, state, loaded, tracer) -> dict[str, float]:
        """Derived per-layer figures; ``computed`` bytes come from row counts."""
        build = tracer.last("blocks.adjacency_build").seconds
        loop = tracer.last("pagerank.loop").seconds
        nnz, rows = state["nnz"], loaded["prepared"].adj.count()
        return {
            "blocks.adjacency_rows_per_s": nnz / build,
            # in: (i, j) longs; out: (s, deg) longs per row plus one long per js entry
            "blocks.adjacency_computed_mb": (16 * nnz + 16 * rows + 8 * nnz) / 1e6,
            "pagerank.iter_s": loop / PAGERANK_ITERS,
        }

    def release(self, loaded) -> None:
        """Drop what one job cached; the loaded inputs stay."""
        prepared = loaded.pop("prepared", None)
        if prepared is not None:
            prepared.adj.unpersist()
            prepared.vertices.unpersist()


class EntryQueries:
    """Serial ``__spark_entry__.queries()`` calls on the fixed sf tables."""

    def __init__(self, name, queries, tables, spans):
        self.name, self.queries = name, queries
        self.tables, self.spans = tables, spans

    def prepare(self, work: str, seed: int) -> dict:
        import __spark_entry__ as entry

        sf_dir = inputs.tpch_tables(os.path.join(work, "inputs"), SF)
        ref = oracles.duckdb_oracles(sf_dir, list(self.queries),
                                     os.path.join(work, "oracles", f"sf{SF}"))
        edges = {"customer": inputs.customer_graph_edges(sf_dir)}
        if "degree_out" in self.queries:
            edges["supplier_part"] = inputs.supplier_part_edges(sf_dir)
        if "minhash_lsh" in self.queries:
            edges["doc_token"] = inputs.doc_token_edges(sf_dir)
        return {"sf_dir": sf_dir, "ref": ref, "edges": edges, "fns": entry.queries(),
                "inputs": {"tables": f"fixed sf{SF} tables, generator seed "
                                     f"{inputs.TABLES_SEED}; --seed does not change them",
                           "queries": list(self.queries), "graph_edges": edges,
                           "seed": seed}}

    def load(self, spark, state):
        frames = []
        for t in self.tables:
            df = spark.read.parquet(os.path.join(state["sf_dir"], f"{t}.parquet")).cache()
            df.count()
            frames.append(df)
        return {"tables": frames}

    def job(self, spark, state, loaded, tracer) -> list[Output]:
        fns = state["fns"]
        outs = []
        for q in self.queries:
            with tracer.span(self.spans[q]):
                try:
                    outs.append(Output(q, fns[q](spark, state["sf_dir"]).toPandas()))
                except Exception as exc:  # counted in fail_ratio, run goes on
                    outs.append(Output(q, error=f"{type(exc).__name__}: {exc}"[:500]))
        return outs

    def check(self, state, out: Output) -> list[str]:
        return oracles.check_query(out.name, out.frame, state["ref"][out.name])

    def edge_passes(self, state) -> int:
        e = state["edges"]
        return sum(e["supplier_part"] if q == "degree_out"
                   else e["doc_token"] if q == "minhash_lsh" else e["customer"]
                   for q in self.queries)

    def layer_metrics(self, state, loaded, tracer) -> dict[str, float]:
        return {}

    def release(self, loaded) -> None:
        pass


# why each workload is there: BENCHMARK.json
WORKLOADS = {w.name: w for w in (
    PageRankZipf(),
    EntryQueries(f"queries_sf{SF}", QUERIES,
                 ("customer", "orders", "lineitem"),
                 {q: f"query.{q}" for q in QUERIES}),
    EntryQueries(f"pairs_sf{SF}", PAIRS,
                 ("customer", "orders", "documents"),
                 {q: f"{q}.call" for q in PAIRS}),
)}


def check_output(workload, state, out: Output) -> list[str]:
    if out.error is not None:
        return [out.error]
    try:
        return workload.check(state, out)
    except Exception as exc:  # a crashing check is a failed operation too
        return [f"check raised {type(exc).__name__}: {exc}"[:500]]


def pair_rows(outs: list[Output]) -> dict[str, float]:
    return {f"{o.name}.rows": float(len(o.frame)) for o in outs
            if o.name in PAIRS and o.frame is not None}

