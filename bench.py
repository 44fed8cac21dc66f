"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

This module is also the timing core every harness calls (scripts/
time_queries.py, scripts/scale_probe.py, scripts/bench_reference.py):
`warm_up` takes first-touch JVM/codegen cost out of the timings, and
`time_query` times one query under the single clock rule — the clock
starts before the builder and stops after the noop-sink write, so
build-time Spark jobs (training collects, broadcast builds) are counted
like execution, as a MapReduce job is charged for every phase it runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import get_spark

# Headline set: one representative per operator family (scan+agg, joins,
# windows, text explode, dedup/LSH, vector search, event-time ops), plus
# the LLM-pipeline capstone (corpus_curation: quality gates + LSH dedup —
# the end-to-end query a training-data user actually runs).
HEADLINE = (
    "pricing_summary",
    "forecast_revenue",
    "join_large",
    "join_broadcast",
    "shipping_priority",
    "window_topk_per_group",
    "wordcount",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk_bruteforce",
    "sim_topk_ivf_quantized",
    "time_tumbling",
    "sessionize",
    "product_profit",
    "waiting_orders",
    "corpus_curation",
)


def warm_up(spark, specs, sf_dir: str) -> None:
    """Touch the JVM, codegen and the parquet reader on the fact table
    once (fixture files have a single row group, so scans are
    single-task), taking first-touch JIT out of every later timing."""
    for name in ("agg_stats", "filter_project"):
        specs[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()


def time_query(spark, spec, sf_dir: str, iters: int) -> list[float]:
    """Wall seconds of `iters` runs of one query: builder plus forced
    execution (noop sink — full computation, no driver-side collect).
    Callers take the best run: the first pays one-time whole-stage
    codegen, and multi-stage plans show scheduling jitter. Jobs are
    labelled `bench:<name>` so an event-log reading maps stages to
    queries; the label is set outside the timed region."""
    spark.sparkContext.setJobDescription(f"bench:{spec.name}")
    runs = []
    try:
        for _ in range(iters):
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
    finally:
        spark.sparkContext.setJobDescription(None)
    return runs


def bench_ann_serving(spark, sf_dir: str, iters: int) -> dict[str, float]:
    """Train-vs-serve split for the trained-ANN capstone (VERDICT r7 #2):
    the end-to-end sim_topk_ivf_quantized number in `queries` is ~80%
    in-query Lloyd training recomputed per run, which misrepresents the
    steady-state serving cost a 100 TB deployment pays — there the index
    (trained cell assignment + int8 codes) is built ONCE and amortized
    across every query batch. Here the index materializes to parquet
    once (`index_build`), then probe→shortlist→rerank runs against the
    materialized index alone (`serve`: `time_query`'s clock, so the
    shortlist builder is included; best-of-iters). The headline
    total still carries the END-TO-END number; this block is reported
    alongside it. Equivalence of the two paths is pinned by
    tests/test_pq.py::test_ivfq_serving_over_materialized_index_matches_end_to_end.
    """
    import shutil
    import tempfile

    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _ivfq_coded,
        _ivfq_shortlist_ids,
        exact_cosine_rerank,
    )
    from multithreaded_mapreduce_library_spark.registry import QuerySpec

    tmp = tempfile.mkdtemp(prefix="ivfq_index_")
    try:
        t0 = time.perf_counter()
        _ivfq_coded(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        index_build = time.perf_counter() - t0
        idx = spark.read.parquet(tmp)
        serve = QuerySpec(
            name="ann_serving",
            builder=lambda s, d: exact_cosine_rerank(
                s, d, _ivfq_shortlist_ids(s, d, coded=idx), 3
            ),
            oracle=None,
        )
        best = min(time_query(spark, serve, sf_dir, iters))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"index_build": round(index_build, 3), "serve": round(best, 3)}


def _time_once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _py_loop_once() -> float:
    """Interpreter-throughput canary payload. scripts/canary.py imports
    this (like _blas_once) so the standalone probe and the in-bench one
    share ONE payload definition and can never drift (ADVICE r19)."""
    return _time_once(lambda: sum(i * i for i in range(2_000_000)))


def _canary_pair() -> dict[str, float]:
    """Best-of-3 probe pair. Recorded at bench START and END: r19 proved
    VM-level steal can burst mid-run on a clean-start box, so a single
    leading canary cannot certify a total — trust a run only when BOTH
    brackets are clean (py_loop in the host band, blas at or below the
    quiet ceiling ~0.030)."""
    return {
        "py_loop_sec": round(min(_py_loop_once() for _ in range(3)), 4),
        "blas_matmul_sec": round(min(_blas_once() for _ in range(3)), 4),
    }


def _blas_once() -> float:
    import numpy as np

    a = np.full((768, 768), 0.5)
    return _time_once(lambda: a @ a)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench")
    specs = load_all()

    warm_up(spark, specs, sf_dir)

    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    # Machine-load provenance: every bench dispute in rounds 3-5 turned
    # out to be a loaded box (single loaded runs read 50-100% high vs the
    # quiet-box band in PERF.md). Recording 1/5/15-min loadavg at start
    # and end plus wall timestamps makes a high number self-diagnosing.
    load_start = os.getloadavg()
    # Host-throughput canary (r11): the 3.7-4.8s legacy-15 quiet band
    # stopped reproducing on an idle box (loadavg 0.00, steal ~0.1%) with
    # identical code — a host-level shift loadavg cannot see. Timing two
    # fixed single-process workloads (interpreter loop + BLAS matmul)
    # alongside every bench makes the next shift self-diagnosing: if the
    # canaries move with the query times, it's the host, not the code.
    canary = _canary_pair()
    t_start = time.time()
    timings: dict[str, float] = {}
    # Per-query wall-clock windows (VERDICT r21 #7): the run-level canary
    # brackets certify a TOTAL, but a steal burst inside an otherwise
    # clean run inflates individual queries invisibly (r20's sessionize
    # 1.731s vs its 0.33s band). Recording [start_unix, end_unix] per
    # query lets the next PERF comparison place a suspect number inside
    # the loadavg/wall timeline. Two time.time() reads per query, both
    # OUTSIDE the timed regions — additive, timing-neutral.
    query_wall: dict[str, list[float]] = {}
    for name in HEADLINE:
        q_wall0 = time.time()
        timings[name] = round(min(time_query(spark, specs[name], sf_dir, iters)), 3)
        query_wall[name] = [round(q_wall0, 1), round(time.time(), 1)]
    spark.sparkContext.setJobDescription("bench:ann_serving")

    ann_serving = bench_ann_serving(spark, sf_dir, iters)

    # Trailing canary (r19 lesson, VERDICT r19 #3): steal bursts WITHIN a
    # run on this host class, so the closing-number protocol brackets
    # every run — a total is certifiable only if start AND end canaries
    # are both clean; otherwise re-run and take the best clean-bracket
    # total. Dirty-bracket totals are recorded but never the anchor.
    canary_end = _canary_pair()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # steady-state serving cost of the trained-ANN capstone
                # over a once-materialized index; the headline total
                # carries the END-TO-END (train-in-query) number above
                "ann_serving": ann_serving,
                "sf": sf,
                "cpu_canary": canary,
                "cpu_canary_end": canary_end,
                # additive (r22): per-query wall windows for post-hoc
                # burst attribution; see the comment at query_wall above
                "query_wall": query_wall,
                "load_avg_start": [round(x, 2) for x in load_start],
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
                "wall_start_unix": round(t_start, 1),
                "wall_end_unix": round(time.time(), 1),
                "iters": iters,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
