"""Tests of the benchmark's own parts: the seeded corpus generator, the
event-log parser and the executed-plan node counter. They start no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

import corpus
import eventlog
from plancount import count_nodes


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_writes_identical_corpus_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    corpus.write_mr_corpus(str(a), "zipf", 5)
    corpus.write_mr_corpus(str(b), "zipf", 5)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 10
    for name in names:
        assert _digest(a / name) == _digest(b / name), name
    meta = pq.ParquetFile(a / "documents.parquet").metadata
    assert meta.num_row_groups == 1      # the fixture's single-split layout


def test_seed_and_kind_change_the_corpus():
    base = corpus.documents_table("zipf", 1, n_tokens=5000)
    assert base.equals(corpus.documents_table("zipf", 1, n_tokens=5000))
    assert not base.equals(corpus.documents_table("zipf", 2, n_tokens=5000))
    assert not base.equals(corpus.documents_table("distinct", 1, n_tokens=5000))


def _tokens(table) -> list[str]:
    return [t for text in table.column("text").to_pylist()
            for t in text.replace("\t", " ").split(" ")]


def test_corpus_shapes():
    n = 20_000
    zipf = _tokens(corpus.documents_table("zipf", 3, n_tokens=n))
    distinct = _tokens(corpus.documents_table("distinct", 3, n_tokens=n))
    for toks in (zipf, distinct):
        words = [t for t in toks if t]
        assert len(words) == n
        # delimiter runs leave empty tokens for the emit guard to drop
        assert 0 < len(toks) - n < 0.05 * n
    assert len(set(zipf)) < 0.3 * n      # repeated, skewed keys
    assert len(set(distinct)) > 0.6 * n  # most keys occur once


def _task(stage: int, kind: str, run_ms: int, reason: str = "Success", **extra) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": extra.get("gc", 0),
            "Memory Bytes Spilled": extra.get("spill", 0), "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": extra.get("read", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("written", 0),
                                      "Shuffle Records Written": extra.get("records", 0)},
        },
    }


def test_event_log_attributes_tasks_to_labelled_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "p1:mr_wordcount"}},
        _task(0, "ShuffleMapTask", 400, written=1000, records=3, gc=20),
        _task(1, "ResultTask", 100, read=1000),
        _task(1, "ResultTask", 100, read=0),
        _task(1, "ResultTask", 300, read=0, spill=64),
        {"Event": "SparkListenerJobEnd", "Job ID": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(2, "ResultTask", 50, reason="ExceptionFailure"),
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))

    tasks = eventlog.read_log(str(log))
    assert [t.label for t in tasks] == ["p1:mr_wordcount"] * 4 + [""]
    assert tasks[-1].failed and not any(t.failed for t in tasks[:-1])

    m = eventlog.layer_metrics([t for t in tasks if t.label.startswith("p1:")], wall_s=1.0, cores=4)
    assert m["tasks"] == 4 and m["failed_tasks"] == 0
    assert m["executor_run_s"] == 0.9
    assert m["map_stage_s"] == 0.4 and m["reduce_stage_s"] == 0.5
    assert m["executor_cpu_s"] == 0.45 and m["jvm_gc_s"] == 0.02
    assert m["shuffle_write_bytes"] == 1000 and m["shuffle_write_records"] == 3
    assert m["shuffle_read_bytes"] == 1000 and m["spill_bytes"] == 64
    assert m["core_utilization"] == 0.9 / 4
    assert m["task_max_over_median"] == 3.0   # stage 1: 300 ms vs a 100 ms median


# An executed plan as plans.final_adaptive_plan returns it: AQE stages,
# codegen markers, a broadcast, a reused broadcast and a reused shuffle.
PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 6
   +- *(6) Project [k#1, v#2, w#9]
      +- *(6) BroadcastHashJoin [k#1], [k#8], Inner, BuildRight, false
         :- *(6) HashAggregate(keys=[k#1], functions=[sum(v#3)])
         :  +- AQEShuffleRead coalesced
         :     +- ShuffleQueryStage 0
         :        +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=40]
         :           +- *(1) HashAggregate(keys=[k#1], functions=[partial_sum(v#3)])
         :              +- *(1) Filter isnotnull(k#1)
         :                 +- *(1) ColumnarToRow
         :                    +- FileScan parquet [k#1,v#3] Batched: true, DataFilters: []
         +- BroadcastQueryStage 5
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=90]
               +- *(5) HashAggregate(keys=[k#8], functions=[sum(v#10)])
                  +- AQEShuffleRead coalesced
                     +- ShuffleQueryStage 1
                        +- ReusedExchange [k#8, sum#11], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=40]
   +- ArrowEvalPython [score(v#2)#12], [pythonUDF0#13], 200
      +- BroadcastQueryStage 7
         +- ReusedExchange [k#20], BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=90]
"""


def test_node_counter_counts_reused_exchanges_apart():
    assert count_nodes(PLAN) == {
        "shuffle_exchanges": 1,
        "reused_exchanges": 2,
        "broadcast_exchanges": 1,
        "parquet_scans": 1,
        "python_nodes": 1,
        "codegen_stages": 3,
    }


def test_node_counter_ignores_plan_headers():
    assert count_nodes("== Final Plan ==\n") == dict.fromkeys(count_nodes(PLAN), 0)
