"""Spark-free checks on the measurement harnesses: the query-name sets
bench.py and scripts/scale_probe.py time, and scripts/plan_sweep.py's
formatted-plan node counter."""

from __future__ import annotations

from bench import HEADLINE
from multithreaded_mapreduce_library_spark.registry import load_all
from scripts.plan_sweep import count_tree_nodes
from scripts.scale_probe import PROBE


def test_harness_name_sets_resolve():
    """Every timed name is registered, and no probe is a stream_* query:
    a streaming builder runs its availableNow replay inside the build,
    so its timing would measure replay, not the plan's scaling."""
    registered = set(load_all())
    assert not set(HEADLINE) - registered
    assert not set(PROBE) - registered
    assert not [q for q in PROBE if q.startswith("stream_")]


# Shape of `df.explain("formatted")` for a self-join whose second shuffle
# Spark replaced by a reuse of the first, plus one broadcast.
_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- SortMergeJoin Inner (11)
   :- Sort (5)
   :  +- Exchange (4)
   :     +- BroadcastHashJoin Inner BuildRight (3)
   :        :- Scan parquet  (1)
   :        +- BroadcastExchange (2)
   :           +- Scan parquet  (6)
   +- Sort (10)
      +- ReusedExchange (9)


(1) Scan parquet
Output [1]: [k#1L]

(4) Exchange
Input [1]: [k#1L]
Arguments: hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=7]

(9) ReusedExchange [Reuses operator id: 4]
Output [1]: [k#9L]
"""


def test_plan_sweep_counts_reused_exchange_apart_from_shuffles():
    c = count_tree_nodes(_PLAN)
    assert (c["shuffle_exchange"], c["broadcast_exchange"], c["reused_exchange"]) == (1, 1, 1)
    assert (c["smj"], c["bhj"], c["parquet_scan"]) == (1, 1, 2)
