"""Benchmark of the spark-graft engine: one workload per run, measured in one
fresh Python+JVM process.

    python3 perfbench/run.py --workload rdf_joins --seed 1 --seconds 10 --trace 0

A run generates seeded fixtures inside the checkout, starts Spark, warms up,
then drives a closed loop with one client over the workload's queries (query
order permuted per pass from the seed) for ``--seconds``, and finally checks
every query's result against its DuckDB oracle. ``--trace 1`` alternates
untraced and traced passes and reports per-layer metrics instead of the
end-to-end ones.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the metric names and units are the
ones declared in ``BENCHMARK.json``. The line before it carries the details:
per-pass and per-query times, sample counts, failures and the host-drift
probes.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402


import datagen  # noqa: E402
from check import OracleChecker  # noqa: E402
from spans import Tracer, storage_held_mb  # noqa: E402
from workloads import WARM_PASSES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "rdf_mapreduce_joins_spark"
SF = 0.01
# The engine's default driver heap is 12 g. At sf0.01 the JVM then grows to
# 6.3 GB resident, against 2.6 GB with 4 g, for the same work; 4 g keeps a
# run small on a host whose memory is shared.
DRIVER_MEMORY = "4g"

LAYER_METRICS = (
    "sources.load_table_calls",
    "sources.load_table_s",
    "sources.load_table_jobs",
    "sources.write_mb",
    "plans.build_s",
    "plans.build_jobs",
    "plans.sparql_parse_s",
    "operators.self_s",
    "operators.jobs",
    "operators.shuffle_write_mb",
    "operators.held_mb_p50",
    "operators.held_mb_max",
    "plans.execute_s",
    "plans.execute_jobs",
    "plans.execute_stages",
    "plans.execute_tasks",
    "plans.execute_task_s",
    "plans.execute_cpu_s",
    "plans.execute_gc_s",
    "plans.execute_shuffle_read_mb",
    "plans.execute_shuffle_write_mb",
    "plans.execute_spill_mb",
)


@dataclass
class QueryRun:
    name: str
    latency_s: float | None  # None when the query raised
    spans: list = field(default_factory=list)
    held_mb: float | None = None


@dataclass
class Pass:
    wall_s: float
    runs: list[QueryRun]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, cpus: int) -> dict[str, str]:
    """Start from an empty work directory and keep every file Spark, the
    JVM, DuckDB and the engine's scratch paths write inside it."""
    shutil.rmtree(work, ignore_errors=True)
    paths = {k: os.path.join(work, k) for k in ("data", "scratch", "spark-local", "tmp")}
    for path in paths.values():
        os.makedirs(path)
    java_opts = f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": paths["spark-local"],
            "SPARK_GRAFT_ORACLE_SF_DIR": paths["data"],
            "TMPDIR": paths["tmp"],
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options {shlex.quote(java_opts)}"
                " --conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = paths["tmp"]
    return paths


def redirect_engine_scratch(scratch_dir: str) -> None:
    """The round-trip/CDC queries and the indexed triples store write under
    hard-coded repository paths; point them into the run's scratch dir."""
    from rdf_mapreduce_joins_spark.plans import formats, generic_rdf

    formats._SCRATCH = os.path.join(scratch_dir, "roundtrip")
    generic_rdf._STORE_ROOT = os.path.join(scratch_dir, "triples_store")


def host_probe(spark) -> dict[str, float]:
    """CPU-bound JVM and single-core Python timings, for reading host drift.

    Run before the warm passes (where it is also the first JVM job) and after
    the timed ones: between them it would slow the next pass."""
    t0 = time.perf_counter()
    spark.range(100_000_000, numPartitions=32).selectExpr(
        "sum((id * 2654435761) % 1000000007)"
    ).collect()
    jvm_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {"jvm_s": jvm_s, "py1_s": time.perf_counter() - t0}


class Bench:
    """Runs one workload's queries against one fixture directory."""

    def __init__(self, spark, data_dir: str, names, tracer) -> None:
        from rdf_mapreduce_joins_spark.plans import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.queries = {n: QUERIES[n] for n in names}
        self.tracer = tracer

    def run_query(self, name: str, traced: bool) -> QueryRun:
        tracer = self.tracer
        tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            df = tracer.call("plans.build", self.queries[name], self.spark, self.data_dir)
            tracer.call("plans.execute", _noop, df)
            latency = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - one failing query must not stop the run
            print(f"perfbench: {name} failed\n{traceback.format_exc()}", file=sys.stderr)
            tracer.enabled = False
            tracer.take()
            return QueryRun(name, None)
        tracer.enabled = False
        if not traced:
            return QueryRun(name, latency)
        return QueryRun(name, latency, tracer.take(), storage_held_mb(self.spark))

    def run_pass(self, order, traced: bool) -> Pass:
        t0 = time.perf_counter()
        runs = [self.run_query(n, traced) for n in order]
        return Pass(time.perf_counter() - t0, runs)

    def check(self, checker) -> dict[str, str]:
        """Every query's result against its oracle; returns the mismatches."""
        from rdf_mapreduce_joins_spark.plans import LAZY_ORACLES, ORACLES

        problems = {}
        for name in sorted(self.queries):
            if name in ORACLES:
                sql = ORACLES[name]
            elif name in LAZY_ORACLES:
                sql = LAZY_ORACLES[name]()
            else:
                problems[name] = "no oracle"
                continue
            try:
                df = self.queries[name](self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                problem = checker.compare(sql, df.columns, rows)
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                problem = f"raised {type(exc).__name__}: {exc}"
            if problem:
                problems[name] = problem[:300]
        return problems


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def shuffled(names, rng: random.Random) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order


def end_to_end(setup_s: float, passes: list[Pass]) -> tuple[dict, dict]:
    """The timing metrics; ``None`` for those without a successful query."""
    by_query: dict[str, list[float]] = {}
    for p in passes:
        for r in p.runs:
            if r.latency_s is not None:
                by_query.setdefault(r.name, []).append(r.latency_s)
    samples = [t for ts in by_query.values() for t in ts]
    per_query = {n: statistics.median(ts) for n, ts in sorted(by_query.items())}
    detail = {"n_samples": len(samples), "query_median_s": per_query}
    if len(samples) < 2:
        return dict.fromkeys(("query_geomean_s", "query_p50_s", "query_p90_s"), None) | {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.wall_s for p in passes),
        }, detail
    deciles = statistics.quantiles(samples, n=10, method="inclusive")
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.wall_s for p in passes),
        "query_geomean_s": math.exp(statistics.fmean(math.log(t) for t in per_query.values())),
        "query_p50_s": statistics.median(samples),
        "query_p90_s": deciles[8],
    }
    return metrics, detail


def layer_totals(runs: list[QueryRun]) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    t = dict.fromkeys(LAYER_METRICS, 0.0)
    for r in runs:
        for s in r.spans:
            c = s.counters
            t["sources.write_mb"] += c["output_b"] / 1e6
            if s.layer == "sources.load_table":
                t["sources.load_table_calls"] += 1
                t["sources.load_table_s"] += s.duration
                t["sources.load_table_jobs"] += c["jobs"]
            elif s.layer == "plans.build":
                t["plans.build_s"] += s.self_s
                t["plans.build_jobs"] += c["jobs"]
            elif s.layer == "plans.sparql_parse":
                t["plans.sparql_parse_s"] += s.duration
            elif s.layer.startswith("operators."):
                t["operators.self_s"] += s.self_s
                t["operators.jobs"] += c["jobs"]
                t["operators.shuffle_write_mb"] += c["shuffle_write_b"] / 1e6
            elif s.layer == "plans.execute":
                t["plans.execute_s"] += s.duration
                t["plans.execute_jobs"] += c["jobs"]
                t["plans.execute_stages"] += c["stages"]
                t["plans.execute_tasks"] += c["tasks"]
                t["plans.execute_task_s"] += c["task_ms"] / 1e3
                t["plans.execute_cpu_s"] += c["cpu_ns"] / 1e9
                t["plans.execute_gc_s"] += c["gc_ms"] / 1e3
                t["plans.execute_shuffle_read_mb"] += c["shuffle_read_b"] / 1e6
                t["plans.execute_shuffle_write_mb"] += c["shuffle_write_b"] / 1e6
                t["plans.execute_spill_mb"] += c["spill_b"] / 1e6
    held = [r.held_mb for r in runs if r.held_mb is not None]
    if held:
        t["operators.held_mb_p50"] = statistics.median(held)
        t["operators.held_mb_max"] = max(held)
    return t


def per_layer(get_spark_s: float, untraced: list[Pass], traced: list[Pass]) -> dict:
    totals = [layer_totals(p.runs) for p in traced]
    metrics = {k: statistics.median(t[k] for t in totals) for k in LAYER_METRICS}
    metrics["session.get_spark_s"] = get_spark_s
    metrics["trace.overhead_s"] = statistics.median(
        p.wall_s for p in traced
    ) - statistics.median(p.wall_s for p in untraced)
    return metrics


def measure(spark, args, paths: dict[str, str], phases: dict[str, float]) -> tuple[dict, dict]:
    from rdf_mapreduce_joins_spark.sources.tables import TABLES

    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tracer = Tracer(spark)
    wrapped = tracer.install() if args.trace else []
    bench = Bench(spark, paths["data"], names, tracer)
    t0 = time.perf_counter()
    probe_start = host_probe(spark)
    t1 = time.perf_counter()
    for _ in range(WARM_PASSES[args.workload]):
        bench.run_pass(shuffled(names, rng), traced=False)
    setup_s = time.perf_counter() - T_PROCESS
    phases.update(host_probe_s=t1 - t0, warm_pass_s=setup_s - (t1 - T_PROCESS))

    # Whole passes, each started only if the previous one's time says it
    # ends within --seconds; at least one untraced (and one traced) pass.
    passes: dict[bool, list[Pass]] = {False: [], True: []}
    traced = False
    t_start = time.perf_counter()
    last_s = 0.0
    while (
        time.perf_counter() - t_start + last_s <= args.seconds
        or not passes[False]
        or (args.trace and not passes[True])
    ):
        passes[traced].append(bench.run_pass(shuffled(names, rng), traced))
        last_s = passes[traced][-1].wall_s
        traced = bool(args.trace) and not traced
    t2 = time.perf_counter()
    probe_end = host_probe(spark)

    checker = OracleChecker(paths["data"], paths["tmp"], TABLES)
    try:
        problems = bench.check(checker)
    finally:
        checker.close()
    phases.update(timed_s=t2 - t_start, check_s=time.perf_counter() - t2)

    timed = [r for ps in passes.values() for p in ps for r in p.runs]
    raised = sorted({r.name for r in timed if r.latency_s is None})
    attempted = len(timed) + len(names)
    failed = sum(r.latency_s is None for r in timed) + len(problems)
    e2e, detail = end_to_end(setup_s, passes[False])
    e2e["ok_frac"] = 1.0 - failed / attempted
    detail["fail_frac"] = failed / attempted
    metrics = per_layer(phases["get_spark_s"], passes[False], passes[True]) if args.trace else e2e
    detail.update(
        workload=args.workload,
        seed=args.seed,
        sf=SF,
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        end_to_end=e2e,
        untraced_pass_s=[p.wall_s for p in passes[False]],
        traced_pass_s=[p.wall_s for p in passes[True]],
        spans_installed=wrapped,
        raised=raised,
        check_failures=problems,
        phases=phases,
        host_probe={"start": probe_start, "end": probe_end},
    )
    summary = {"correct": not problems and not raised, "attempted": attempted, "failed": failed}
    return summary | {"metrics": metrics}, detail


def stop_spark(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    sys.path.insert(1, ROOT)
    import rdf_mapreduce_joins_spark.plans  # noqa: F401 - counted in imports_s
    from rdf_mapreduce_joins_spark import get_spark

    t0 = time.perf_counter()
    paths = pin_environment(WORK, len(os.sched_getaffinity(0)))
    datagen.generate(paths["data"], args.seed, SF)
    redirect_engine_scratch(paths["scratch"])
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    phases = {
        "imports_s": t0 - T_PROCESS,
        "datagen_s": t1 - t0,
        "get_spark_s": time.perf_counter() - t1,
    }
    try:
        spark.sparkContext.setLogLevel("ERROR")
        result, detail = measure(spark, args, paths, phases)
    finally:
        stop_spark(spark)

    if set(result["metrics"]) != set(units):
        raise RuntimeError(f"metrics {sorted(result['metrics'])} != declared {sorted(units)}")
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
    }
    with open(os.path.join(WORK, "last_run.json"), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1)
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
