"""Semantic tests for the MapReduce facade — the edge semantics SURVEY.md
§1.3 flags as easy to get silently wrong."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from py4j.protocol import Py4JJavaError

from multithreaded_mapreduce_library_spark.mapreduce import (
    djb2,
    emit_filter,
    mr_partitioner,
    mr_run,
    wordcount_mapper,
    wordcount_reducer,
)


# ---------------------------------------------------------------------------
# djb2 partitioner (pure, hypothesis-checked)
# ---------------------------------------------------------------------------

def test_djb2_known_values():
    # djb2("") == seed; djb2("a") == 5381*33 + 97 (mapreduce.c:234-241).
    assert djb2("") == 5381
    assert djb2("a") == 5381 * 33 + ord("a")


@given(st.text(min_size=0, max_size=64), st.integers(min_value=1, max_value=1000))
@settings(max_examples=200, deadline=None)
def test_partitioner_totality_and_determinism(key, n):
    p = mr_partitioner(key, n)
    assert 0 <= p < n
    assert p == mr_partitioner(key, n)


@given(st.text(min_size=1, max_size=32))
@settings(max_examples=100, deadline=None)
def test_djb2_wraps_to_64_bits(key):
    assert 0 <= djb2(key) < 2**64


# ---------------------------------------------------------------------------
# emit-time guard (mapreduce.c:205-207)
# ---------------------------------------------------------------------------

def test_emit_filter_drops_empty_keys():
    pairs = [("a", "1"), ("", "x"), ("b", "2"), ("", ""), (None, "y"), ("a", "3")]
    assert list(emit_filter(pairs)) == [("a", "1"), ("b", "2"), ("a", "3")]


# ---------------------------------------------------------------------------
# full-job semantics on Spark
# ---------------------------------------------------------------------------

def test_mr_run_multiset_and_completeness(spark):
    """Duplicate pairs are preserved (multiset, mapreduce.c:215-219 never
    dedups values); every emitted pair reaches exactly one reducer exactly
    once; empty keys are dropped."""
    records = ["a a b", "b a", "", "   ", "c"]
    rdd = spark.sparkContext.parallelize(records, 3)

    def mapper(line):
        for tok in line.split(" "):
            yield tok, "1"

    seen = []

    def reducer(key, values):
        vals = list(values)
        yield key, len(vals), sorted(vals)

    out = mr_run(spark, rdd, mapper, reducer, num_partitions=4).collect()
    counts = {k: n for k, n, _ in out}
    assert counts == {"a": 3, "b": 2, "c": 1}
    # each key appears exactly once across all reduce outputs
    assert len(out) == len(counts)
    # values arrive as the raw multiset
    assert dict((k, v) for k, _, v in out) == {
        "a": ["1", "1", "1"],
        "b": ["1", "1"],
        "c": ["1"],
    }


def test_mr_run_partition_layout_matches_djb2(spark):
    """Keys land in the djb2-assigned partition (bucket fidelity with
    MR_Partitioner)."""
    keys = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rdd = spark.sparkContext.parallelize(keys, 2)
    n = 5

    def mapper(k):
        yield k, "1"

    def reducer(key, values):
        yield key

    grouped = mr_run(spark, rdd, mapper, reducer, num_partitions=n)
    layout = grouped.glom().collect()
    assert len(layout) == n
    for idx, part in enumerate(layout):
        for key in part:
            assert mr_partitioner(key, n) == idx, (key, idx)


def test_mr_run_permutation_invariance(spark):
    """Reduce outputs don't depend on input order (values are an unordered
    bag — SURVEY.md §1.3)."""
    words = ["x y z", "y x", "z z y"]

    def mapper(line):
        for tok in line.split(" "):
            yield tok, "1"

    def reducer(key, values):
        yield key, sum(1 for _ in values)

    a = sorted(
        mr_run(spark, spark.sparkContext.parallelize(words, 2), mapper, reducer, num_partitions=3).collect()
    )
    b = sorted(
        mr_run(
            spark,
            spark.sparkContext.parallelize(list(reversed(words)), 3),
            mapper,
            reducer,
            num_partitions=3,
        ).collect()
    )
    assert a == b


def test_wordcount_mapper_matches_distwc_tokenization():
    line = "one\ttwo  three\r\nfour "
    got = Counter(k for k, v in emit_filter(wordcount_mapper(line)))
    assert got == Counter({"one": 1, "two": 1, "three": 1, "four": 1})


def test_mr_run_from_files(spark, tmp_path):
    """File-name inputs: one map task per file (mapreduce.c:173-175),
    multi-file input is an implicit union of splits."""
    f1 = tmp_path / "a.txt"
    f2 = tmp_path / "b.txt"
    f1.write_text("hello world\nhello")
    f2.write_text("world")

    def file_mapper(path):
        with open(path) as fh:
            for line in fh:
                for tok in line.replace("\n", " ").split(" "):
                    yield tok, "1"

    def reducer(key, values):
        yield key, sum(1 for _ in values)

    out = dict(
        mr_run(spark, [str(f1), str(f2)], file_mapper, reducer, num_partitions=3).collect()
    )
    assert out == {"hello": 2, "world": 2}


# ---------------------------------------------------------------------------
# input validation: bad arguments fail loudly, not as lost pairs or a
# djb2 AttributeError deep inside a task
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n", [0, -2])
def test_mr_run_rejects_nonpositive_num_partitions(spark, n):
    rdd = spark.sparkContext.parallelize(["a b"], 1)
    with pytest.raises(ValueError, match="num_partitions"):
        mr_run(spark, rdd, wordcount_mapper, wordcount_reducer, num_partitions=n)


@pytest.mark.parametrize("key, type_name", [(7, "int"), (b"k", "bytes"), (0, "int")])
def test_emit_filter_rejects_non_str_keys(key, type_name):
    with pytest.raises(TypeError, match=f"mr_run.*{type_name}"):
        list(emit_filter([("a", "1"), (key, "1")]))


def test_mr_run_non_str_key_names_mr_run_and_type(spark):
    rdd = spark.sparkContext.parallelize(["a", "b"], 2)

    def int_mapper(line):
        yield len(line), "1"

    with pytest.raises(Py4JJavaError, match="TypeError: mr_run.*int"):
        mr_run(spark, rdd, int_mapper, wordcount_reducer, num_partitions=3).collect()

