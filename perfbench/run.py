"""Link-graph benchmark: one run is one fresh process and one cold job.

    python3 perfbench/run.py --workload pagerank_zipf --seed 1 --seconds 1 --trace 0

Run from the repository root.  A run

1. makes the workload's inputs and references from ``--seed`` (untimed,
   cached under ``.perfbench/``);
2. starts a ``local[nproc]`` session through ``graph_python_spark.session``
   sized from this host, and loads and caches the inputs (set-up);
3. runs the job: first cold, then again while the measured time is under
   ``--seconds``; ``job_s`` is the median;
4. checks every operation's output against its reference;
5. sets up four more times (session restart plus load) so ``setup_s`` is
   a median of five;
6. writes a result file with host facts, session conf, spans and every
   metric, and prints the result as the last line of stdout.

With ``--trace 1`` each span runs its Spark jobs under a job group of its own
and the per-layer metrics are read from Spark's status store; the run then
repeats the job warm (one discarded rep, then untraced-traced-traced-
untraced) to measure tracing overhead.
End-to-end metrics are printed only by untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time

from spans import STAGE_FIELDS, StageTotals, Tracer
from workloads import WORKLOADS, Output, check_output, pair_rows

SETUPS = 5
DEADLINE_S = 170


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) * 1024
    return out


def host_facts() -> dict:
    import numpy
    import pyspark

    mem = meminfo()
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "mem_total_mb": mem["MemTotal"] / 2**20,
            "mem_available_mb": mem["MemAvailable"] / 2**20,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "kernel": platform.release()}


def session_conf(host: dict, work: str) -> dict[str, str]:
    """Driver memory: half of MemAvailable, whole GiB, between 1 and 8."""
    driver_gb = max(1, min(8, int(host["mem_available_mb"] / 1024 / 2)))
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": f"{driver_gb}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


class Run:
    def __init__(self, workload, seed: int, seconds: float, traced: bool, work: str):
        self.wl, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.host = host_facts()
        self.conf = session_conf(self.host, work)
        self.tracer = Tracer()
        self.spark = None
        self.loaded = None
        self.attempted = self.failed = 0
        self.problems: list[dict] = []
        self.layer_extra: dict[str, float] = {}

    def setup(self) -> float:
        from graph_python_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app="perfbench", parallelism=self.host["nproc"],
                                   extra_conf=self.conf)
        if self.traced:
            self.tracer.sc = self.spark.sparkContext
        with self.tracer.span("sources.load"):
            self.loaded = self.wl.load(self.spark, self.state)
        return time.perf_counter() - t0

    def teardown_session(self) -> None:
        self.tracer.sc = None
        self.wl.release(self.loaded)
        self.spark.catalog.clearCache()
        self.spark.stop()

    def job(self, traced: bool) -> float:
        sc = self.tracer.sc
        self.tracer.sc = sc if traced else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("job"):
                try:
                    outs = self.wl.job(self.spark, self.state, self.loaded, self.tracer)
                except Exception as exc:  # counted in fail_ratio
                    outs = [Output(self.wl.name, error=f"{type(exc).__name__}: {exc}"[:500])]
        finally:
            self.tracer.sc = sc
        seconds = time.perf_counter() - t0
        for out in outs:
            self.attempted += 1
            problems = check_output(self.wl, self.state, out)
            if problems:
                self.failed += 1
                self.problems.append({"op": out.name, "problems": problems})
        if traced and not self.layer_extra:
            self.layer_extra = {**self.wl.layer_metrics(self.state, self.loaded, self.tracer),
                                **pair_rows(outs)}
        self.wl.release(self.loaded)
        return seconds

    def execute(self) -> dict:
        self.state = self.wl.prepare(self.work, self.seed)
        setups = [self.setup()]
        self.java = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        reps, measured = [], 0.0
        while not reps or measured < self.seconds:
            reps.append(self.job(self.traced))
            measured += reps[-1]
            if len(reps) == 1:
                rss = peak_rss_mb(self.spark)
                first_job = self.tracer.last("job")
        job_s = statistics.median(reps)
        layer: dict[str, float] = {}
        if self.traced:
            # the layer spans of the first set-up and of the first (cold) job
            cold = [s for s in self.tracer.spans if s.group and s.start < first_job.end
                    and s.name != "job"]
            totals = StageTotals(self.spark.sparkContext).for_groups([s.group for s in cold])
            cpu = 0.0
            for s in cold:
                layer[f"{s.name}_s"] = s.seconds
                for k in STAGE_FIELDS:
                    layer[f"{s.name}.{k}"] = totals[s.group][k]
                if s.start >= first_job.start:
                    cpu += totals[s.group]["cpu_s"]
            layer["spark.core_util"] = cpu / (first_job.seconds * self.host["nproc"])
            layer.update(self.layer_extra)
            # after one discarded warm-up rep, untraced-traced-traced-untraced
            # cancels the JIT speed-up that continues rep after rep
            self.job(False)
            u1, t1, t2, u2 = (self.job(traced) for traced in (False, True, True, False))
            layer["trace.overhead_s"] = (t1 + t2 - u1 - u2) / 2
        for _ in range(SETUPS - 1):
            self.teardown_session()
            setups.append(self.setup())
        self.teardown_session()
        starts = [s.seconds for s in self.tracer.spans if s.name == "session.start"]
        loads = [s.seconds for s in self.tracer.spans if s.name == "sources.load"]
        layer["session.start_s"] = statistics.median(starts)
        layer["sources.load_s"] = statistics.median(loads)
        layer["setup.cold_s"] = setups[0]
        layer["jvm.peak_rss_mb"] = rss
        end_to_end = {
            "job_s": job_s,
            "edges_per_s": self.wl.edge_passes(self.state) / job_s,
            "setup_s": statistics.median(setups),
        }
        return {"end_to_end": end_to_end, "per_layer": layer, "reps_s": reps,
                "setups_s": setups}


def stop_gateway() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("graph_python_spark", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            _fail(f"run from the repository root: {need} not found in {root}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)  # the program under test
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(root, ".perfbench")
    for d in ("tmp", "inputs", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temp file, the JVMs' included, inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        res = run.execute()
    finally:
        try:
            if run.spark is not None:
                run.spark.stop()
        finally:
            stop_gateway()
            signal.alarm(0)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    values = {**res["end_to_end"], **res["per_layer"]}
    missing = [n for n in names if n not in values]
    # a span this workload never opens did no work: it reads 0
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "host": {**run.host, "java": run.java}, "session_conf": run.conf,
        "inputs": run.state["inputs"], "reps_s": res["reps_s"], "setups_s": res["setups_s"],
        "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
        "fail_ratio": run.failed / run.attempted, "attempted": run.attempted,
        "failed": run.failed, "problems": run.problems,
        "not_run_spans": missing, "spans": run.tracer.records(),
    }
    out_dir = os.path.join(work, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{record['time_utc']}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for n, m in metrics.items():
        print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(f"seed {args.seed}; fail_ratio = {record['fail_ratio']} ({run.failed}/{run.attempted}); "
          f"result file {os.path.relpath(path, root)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
