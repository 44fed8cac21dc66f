"""Benchmark of the MapReduce facade (``mapreduce.mr_run``), driven only
through the package's public functions.

    python3 perfbench/run.py --workload mr_zipf --seed 1 --seconds 8 --trace 0

One process, one closed loop: the driver submits one job at a time to
``local[nproc]``. A job is timed from before its registry builder until
its ``noop`` write has finished. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the host provenance and the run's details. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from a
separate, traced run. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql.functions import spark_partition_id  # noqa: E402

from multithreaded_mapreduce_library_spark.mapreduce import (  # noqa: E402
    mr_partitioner,
    mr_run,
    wordcount_mapper,
    wordcount_reducer,
)
from multithreaded_mapreduce_library_spark.plans import final_adaptive_plan  # noqa: E402
from multithreaded_mapreduce_library_spark.registry import load_all  # noqa: E402
from multithreaded_mapreduce_library_spark.session import get_spark  # noqa: E402
from multithreaded_mapreduce_library_spark.sources import load_table  # noqa: E402

import corpus  # noqa: E402
import eventlog  # noqa: E402
from facade import facade_metrics  # noqa: E402
import procmem  # noqa: E402
from plancount import count_nodes  # noqa: E402

oracle = corpus.load_repo_module("tests/oracle.py")
bench = corpus.load_repo_module("bench.py")

MR_JOBS = ("mr_wordcount", "mr_inverted_index")
DATAFRAME_JOB = "wordcount"   # the DataFrame path over the same corpus
WORKLOADS = {"mr_zipf": "zipf", "mr_distinct": "distinct"}
SETUPS = 3                    # session set-ups per run; setup_s is their median
SOURCE_SCANS = 3              # load_table + noop scans per traced run
DATAFRAME_RUNS = 3            # DataFrame word counts per traced run
PID = "_perfbench_partition"  # column the output check adds
# A fixed, pre-touched driver heap: the JVM's resident peak is then the
# heap plus what lies outside it, not wherever GC timing left the heap.
DRIVER_HEAP = "1g"


@dataclass
class Outcome:
    """Jobs attempted and failed in this run, with the reason of each
    failure. A job fails when it raises or when its output check fails."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def run(self, label: str, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception as exc:  # every failure is counted, never filtered
            self.failures.append(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, specs, input_dir: str) -> None:
    """The warm-up jobs: a parquet scan with an aggregate (the reader and
    whole-stage codegen), and a tiny facade job (Python workers, the djb2
    shuffle)."""
    noop_write(specs["agg_stats"].builder(spark, input_dir))
    lines = spark.sparkContext.parallelize(["warm up  the\tfacade"], 2)
    mr_run(spark, lines, wordcount_mapper, wordcount_reducer, num_partitions=nproc()).collect()


def run_pass(spark, specs, jobs, input_dir: str, label: str, outcome: Outcome) -> dict:
    """One full pass over ``jobs``; returns each job's time and builder time."""
    times, builds = {}, {}
    for name in jobs:
        spark.sparkContext.setJobDescription(f"{label}:{name}")
        t0 = time.perf_counter()
        builds[name] = 0.0

        def job() -> None:
            df = specs[name].builder(spark, input_dir)
            builds[name] = time.perf_counter() - t0
            noop_write(df)

        outcome.run(f"{label}:{name}", job)
        times[name] = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return {"label": label, "s": sum(times.values()), "build_s": sum(builds.values()), "jobs": times}


def steady_passes(spark, specs, jobs, input_dir, seconds, outcome, prefix="") -> list[dict]:
    """Passes until ``seconds`` have passed (at least one)."""
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(run_pass(spark, specs, jobs, input_dir, f"{prefix}p{len(passes)}", outcome))
    return passes


class CheckFailed(Exception):
    pass


def require(ok: bool, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


def check_job(spark, spec, input_dir: str) -> None:
    """Compare the job's output with its DuckDB oracle as ``tests/oracle.py``
    does; for facade jobs also require every output key to sit in the
    partition ``mr_partitioner`` assigns it."""
    df = spec.builder(spark, input_dir)
    parts = df.rdd.getNumPartitions()
    rows = [tuple(r) for r in df.withColumn(PID, spark_partition_id()).collect()]
    ocols, orows, otypes = oracle.run_duckdb(spec.oracle, input_dir, with_types=True)
    oracle.check_type_alignment(df, otypes, spec.name)
    require(sorted(df.columns) == sorted(ocols), f"columns {df.columns} vs oracle {ocols}")
    require(len(rows) == len(orows), f"{len(rows)} rows vs {len(orows)} in the oracle")
    srows = oracle.canonical_rows(df.columns, [r[:-1] for r in rows])
    require(srows == oracle.canonical_rows(ocols, orows), "values differ from the oracle")
    if "mapreduce-facade" in spec.tags:
        misplaced = [r[0] for r in rows if mr_partitioner(r[0], parts) != r[-1]]
        require(not misplaced, f"{len(misplaced)} keys outside their djb2 partition, e.g. {misplaced[:3]}")


class Sessions:
    """Sets up, restarts and finally stops the Spark session, keeping all
    scratch files (local dirs, JVM temp, event logs) under one directory."""

    def __init__(self, work: str):
        self.work = work
        self.events = os.path.join(work, "events")
        for sub in ("local", "tmp", "events"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
        # one string-hash seed for every Python worker, run after run
        os.environ["PYTHONHASHSEED"] = "0"
        # the package's own driver-heap setting (default 48g)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        self.spark = None
        self.setups: list[dict] = []

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, specs, input_dir: str, traced: bool = False):
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=nproc(), extra_conf=self.conf(traced))
        t1 = time.perf_counter()
        warm_up(self.spark, specs, input_dir)
        t2 = time.perf_counter()
        self.setups.append({"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "s": t2 - t0})
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM by closing its stdin, and wait for every
        process this run started."""
        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.proc.stdin.close()
            procmem.stop_children()

    def event_log(self) -> str:
        (name,) = os.listdir(self.events)
        return os.path.join(self.events, name)


class PhaseClock:
    """Wall time of each phase of the run, for the details line."""

    def __init__(self):
        self.spans: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.spans[name] = now - self._t
        self._t = now


def median(values) -> float:
    return statistics.median(list(values))


def host(seed: int, workload: str, trace: int) -> dict:
    return {
        "workload": workload, "seed": seed, "trace": trace, "nproc": nproc(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "loadavg_start": os.getloadavg(), "canary_start": bench._canary_pair(),
    }


@dataclass
class Passes:
    cold: dict             # the first pass after the first set-up
    steady: list[dict]     # passes in the last session
    baseline: list[dict]   # traced run only: untraced steady passes


def measure(sessions, specs, input_dir: str, seconds: float, outcome, traced: bool) -> Passes:
    """Set up (launching the JVM) and run the cold pass; set up again
    until there were ``SETUPS`` set-ups; run steady passes in the last
    session. A traced run first runs untraced steady passes in the
    second-to-last session, then makes its last set-up with the event log
    on."""
    spark = sessions.setup(specs, input_dir)
    cold = run_pass(spark, specs, MR_JOBS, input_dir, "cold", outcome)
    baseline: list[dict] = []
    for i in range(1, SETUPS):
        last = i == SETUPS - 1
        if traced and last:
            baseline = steady_passes(spark, specs, MR_JOBS, input_dir, seconds, outcome, "base-")
        spark = sessions.setup(specs, input_dir, traced=traced and last)
    steady = steady_passes(spark, specs, MR_JOBS, input_dir, seconds, outcome)
    return Passes(cold, steady, baseline)


def end_to_end(sessions: Sessions, passes: Passes, worker_kb: int, details: dict) -> dict:
    details["peak_rss_mb"] = rss = procmem.peak_rss_mb(worker_kb)
    return {
        "setup_s": (median(s["s"] for s in sessions.setups), "s"),
        "cold_pass_s": (passes.cold["s"], "s"),
        "wall_s": (median(p["s"] for p in passes.steady), "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


EVENT_UNITS = {
    "tasks": "count", "failed_tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "jvm_gc_s": "s", "shuffle_write_bytes": "B", "shuffle_write_records": "count",
    "shuffle_read_bytes": "B", "spill_bytes": "B", "core_utilization": "ratio",
    "task_max_over_median": "ratio", "map_stage_s": "s", "reduce_stage_s": "s",
}
FACADE_UNITS = {
    "pairs_emitted": "count", "empty_keys_dropped": "count", "distinct_keys": "count",
    "partition_keys_max_over_mean": "ratio", "partition_values_max_over_mean": "ratio",
    "djb2_ns_per_key": "ns", "mapper_us_per_line": "us", "emit_filter_ns_per_pair": "ns",
    "reducer_ns_per_value": "ns",
}


def event_metrics(tasks, labels: list[str], walls: list[float], layer: str, names) -> dict:
    """Median over ``labels`` (one per pass) of each pass's task sums."""
    per_pass = [
        eventlog.layer_metrics([t for t in tasks if t.label.startswith(label + ":")], wall, nproc())
        for label, wall in zip(labels, walls)
    ]
    return {f"{layer}.{k}": (median(p[k] for p in per_pass), EVENT_UNITS[k]) for k in names}


UNAVAILABLE = {
    "operators.<query>_s for the 22 sf0.1 queries": (
        "the sql_headline and py_heavy workloads are not in this benchmark: "
        "one run of either takes longer than the run budget allows"),
    "operators.* and plans.* on sf0.1 workloads": "same reason; measured here on the DataFrame wordcount job",
    "plans.* of mr_wordcount and mr_inverted_index": (
        "their DataFrame is a Scan ExistingRDD over the facade's RDD, with no adaptive "
        "plan; their djb2 shuffle shows in the mapreduce.* event-log metrics"),
}


def traced_layers(sessions, specs, input_dir, passes: Passes, outcome, details) -> dict:
    """Each layer's probes in the traced session, then the event log."""
    spark = sessions.spark
    sc = spark.sparkContext
    scans = []
    for i in range(SOURCE_SCANS):
        sc.setJobDescription(f"sources{i}:scan")
        t0 = time.perf_counter()
        docs = load_table(spark, input_dir, "documents")
        noop_write(docs)
        scans.append(time.perf_counter() - t0)
    partitions, rows = docs.rdd.getNumPartitions(), docs.count()

    df_times = []
    for i in range(DATAFRAME_RUNS):
        sc.setJobDescription(f"df{i}:{DATAFRAME_JOB}")
        t0 = time.perf_counter()
        outcome.run(f"df{i}:{DATAFRAME_JOB}", lambda: noop_write(specs[DATAFRAME_JOB].builder(spark, input_dir)))
        df_times.append(time.perf_counter() - t0)
    sc.setJobDescription("plans")
    plan = count_nodes(final_adaptive_plan(specs[DATAFRAME_JOB].builder(spark, input_dir)))
    sc.setJobDescription(None)
    for name in (*MR_JOBS, DATAFRAME_JOB):
        outcome.run(f"check:{name}", lambda: check_job(spark, specs[name], input_dir))
    num_partitions = specs[MR_JOBS[0]].builder(spark, input_dir).rdd.getNumPartitions()
    sessions.close()

    tasks = eventlog.read_log(sessions.event_log())
    steady = passes.steady
    m = {
        "session.get_spark_s": (median(s["get_spark_s"] for s in sessions.setups), "s"),
        "session.warmup_s": (median(s["warmup_s"] for s in sessions.setups), "s"),
        "sources.load_table_s": (median(scans), "s"),
        "sources.input_partitions": (partitions, "count"),
        "sources.input_rows": (rows, "count"),
        "registry.build_s": (median(p["build_s"] for p in steady), "s"),
    }
    m.update(event_metrics(tasks, [p["label"] for p in steady], [p["s"] for p in steady],
                           "mapreduce", EVENT_UNITS))
    df_s = median(df_times[1:])
    m["mapreduce.facade_over_dataframe"] = (
        median(p["jobs"]["mr_wordcount"] for p in steady) / df_s, "ratio")
    lines = pq.read_table(os.path.join(input_dir, "documents.parquet"), columns=["text"])
    for k, v in facade_metrics(lines.column("text").to_pylist(), num_partitions).items():
        m[f"mapreduce.{k}"] = (v, FACADE_UNITS[k])
    m[f"operators.{DATAFRAME_JOB}_s"] = (df_s, "s")
    m.update(event_metrics(tasks, [f"df{i}" for i in range(1, DATAFRAME_RUNS)], df_times[1:],
                           "operators", [k for k in EVENT_UNITS if not k.endswith("stage_s")]))
    m.update({f"plans.{k}": (v, "count") for k, v in plan.items()})
    traced_wall = median(p["s"] for p in steady)
    untraced_wall = median(p["s"] for p in passes.baseline)
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.untraced_wall_s"] = (untraced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    details["unavailable"] = UNAVAILABLE
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    procmem.adopt_orphans()
    # a terminated run still stops Spark and its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    details = host(args.seed, args.workload, args.trace)
    phase = PhaseClock()
    input_dir = subprocess.run(
        [sys.executable, os.path.join(HERE, "corpus.py"), WORKLOADS[args.workload], str(args.seed)],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    phase("generate")
    work = os.path.join(corpus.CACHE, f"work-{os.getpid()}")
    specs = load_all()
    outcome = Outcome()
    sessions = Sessions(work)
    try:
        with procmem.WorkerRssPoller() as poller:
            passes = measure(sessions, specs, input_dir, args.seconds, outcome, bool(args.trace))
        details["passes"] = passes.__dict__
        phase("measure")
        if args.trace:
            metrics = traced_layers(sessions, specs, input_dir, passes, outcome, details)
        else:
            metrics = end_to_end(sessions, passes, poller.max_kb, details)
            for name in MR_JOBS:
                outcome.run(f"check:{name}", lambda: check_job(sessions.spark, specs[name], input_dir))
        phase("check")
    finally:
        try:
            sessions.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    phase("close")

    failed = len(outcome.failures)
    details.update({
        "setups": sessions.setups, "failures": outcome.failures,
        "failed_ratio": failed / outcome.attempted,
        "loadavg_end": os.getloadavg(), "canary_end": bench._canary_pair(),
        "phase_s": phase.spans,
    })
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": failed == 0, "attempted": outcome.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
