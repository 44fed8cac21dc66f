"""Facade layer figures computed in the driver from the public functions
of ``mapreduce``: exact counts of what the word-count job emits, the djb2
bucket balance, and single-thread costs of the mapper, the emit filter,
djb2 and the reducer over the workload's own input."""

from __future__ import annotations

import statistics
import time
from collections import Counter

from multithreaded_mapreduce_library_spark.mapreduce import (
    djb2,
    emit_filter,
    mr_partitioner,
    wordcount_mapper,
    wordcount_reducer,
)


def _max_over_mean(values: list[int]) -> float:
    return max(values) / statistics.fmean(values)


def _ns_per(fn, n: int) -> float:
    t0 = time.perf_counter_ns()
    fn()
    return (time.perf_counter_ns() - t0) / max(n, 1)


def facade_metrics(lines: list[str], num_partitions: int) -> dict[str, float]:
    raw = [p for line in lines for p in wordcount_mapper(line)]
    pairs = list(emit_filter(raw))
    counts = Counter(k for k, _ in pairs)
    keys_per_part = [0] * num_partitions
    values_per_part = [0] * num_partitions
    for key, n in counts.items():
        part = mr_partitioner(key, num_partitions)
        keys_per_part[part] += 1
        values_per_part[part] += n
    keys = [k for k, _ in pairs]
    grouped = [(k, ["1"] * n) for k, n in counts.items()]

    def drain_mapper() -> None:
        for line in lines:
            for _ in wordcount_mapper(line):
                pass

    def drain_filter() -> None:
        for _ in emit_filter(raw):
            pass

    def hash_all() -> None:
        for k in keys:
            djb2(k)

    def reduce_all() -> None:
        for k, vs in grouped:
            for _ in wordcount_reducer(k, iter(vs)):
                pass

    return {
        "pairs_emitted": len(pairs),
        "empty_keys_dropped": len(raw) - len(pairs),
        "distinct_keys": len(counts),
        "partition_keys_max_over_mean": _max_over_mean(keys_per_part),
        "partition_values_max_over_mean": _max_over_mean(values_per_part),
        "mapper_us_per_line": _ns_per(drain_mapper, len(lines)) / 1e3,
        "emit_filter_ns_per_pair": _ns_per(drain_filter, len(raw)),
        "djb2_ns_per_key": _ns_per(hash_all, len(keys)),
        "reducer_ns_per_value": _ns_per(reduce_all, len(pairs)),
    }
