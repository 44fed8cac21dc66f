"""Parquet sources for the fixture tables (TESTDATA.md / FIXTURES.md).

The reference's only source is one-file-per-map-task text input
(`mapreduce.c:173-175`, `distwc.c:8-13`); Spark's parquet reader subsumes it
(splittable files, column pruning, predicate pushdown). The reference-native
text-file path is provided by :mod:`..mapreduce` for the facade.
"""

from __future__ import annotations

import hashlib
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are broadcast-sized at every scale factor (≪ the 64MB
# autoBroadcastJoinThreshold even at 100 TB-scale fact tables — they scale
# sub-linearly in TPC-H-style schemas).
BROADCAST_DIMS = ("region", "nation", "supplier")


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read fixture table ``name`` from ``sf_dir``.

    A bare ``spark.read.parquet(path)`` infers the schema with a one-task
    Spark job (``mergeSchemasInParallel``) on every call: 90 ms for the
    sf0.01 ``documents`` on a 4-CPU host, against 21 ms and no job when the
    schema is given. So the inferred schema is memoized per path and reused while
    the path's file identity (:func:`_file_identity`) and the session's
    explicitly set parquet confs are unchanged; a rewritten or reconfigured
    table is inferred again. The plan and the data read are the same either
    way. A path ``os.stat`` cannot read (``s3a://``, ``hdfs://``) is always
    inferred.

    ``events`` needs ``spark.sql.legacy.parquet.nanosAsLong``
    (:func:`normalize_events_ts`). ``session.get_spark`` sets it when it
    builds the session; sessions built elsewhere get it set here.
    """
    path = table_path(sf_dir, name)
    if name != "events":
        return _read_parquet(spark, path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(_read_parquet(spark, path))


# path -> ((file identity, parquet confs), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    identity = _file_identity(path)
    if identity is None:
        return spark.read.parquet(path)
    # Taken before the read: a change during inference leaves an older
    # stamp behind, so the next call infers again.
    stamp = (identity, _parquet_confs(spark))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def _file_identity(path: str) -> tuple | None:
    """``(st_mtime_ns, st_size)`` of a file; the sorted ``(relpath,
    st_mtime_ns, st_size)`` of every file under a directory; ``None`` when
    the path cannot be ``stat``ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_mtime_ns, st.st_size
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                f = os.stat(full)
                files.append((os.path.relpath(full, path), f.st_mtime_ns, f.st_size))
    except OSError:
        return None
    return tuple(sorted(files))


def _parquet_confs(spark: SparkSession) -> tuple[tuple[str, str], ...]:
    """Every explicitly set conf whose name contains ``parquet``.

    The names come from the JVM as one joined string: ``RuntimeConfig.getAll``
    pays a py4j round trip per conf (about 20 ms for a ``get_spark``
    session's 31), which would eat most of what the memo saves.
    """
    jconf = spark.conf._jconf
    names = spark.sparkContext._jvm.java.lang.String.join("\n", jconf.getAllAsJava().keySet())
    return tuple(sorted((k, spark.conf.get(k)) for k in names.split("\n") if "parquet" in k))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-tz TIMESTAMP from either physical
    layout the fixture generator has shipped — the ONE place both the
    batch loader and the streaming source get this logic from.

    Layouts seen so far: INT64 TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default (read nanos as long via the nanosAsLong
    conf; integer `div` keeps full precision — ns since epoch exceeds
    2^53, so float division would corrupt timestamps), and plain
    timestamp[us], which arrives as TIMESTAMP_NTZ (cast to session-tz
    TIMESTAMP — value-preserving under the UTC session, and keeps every
    downstream query on one timestamp class).
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def rebalance_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy map work.

    Parquet's split unit is the row group; a file with one giant row group
    (our fixtures — and any badly-written upstream file at 100 TB) scans as
    ONE task, serializing everything narrow that follows (tokenize, md5,
    shingle explode, per-pair folds). When the scan's parallelism is below
    the cluster's, insert one round-robin exchange of the *source* rows —
    cheap relative to the downstream compute it parallelizes. When the
    source is already well-split (the normal many-files case at scale),
    this is a no-op with zero plan change.

    Only worth it when downstream per-row work dominates the exchange cost;
    plain filter/agg paths should NOT use this (the exchange would defeat
    scan-adjacent partial aggregation for no compute win).
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Bucket count for co-located joins. Locally tiny; on a cluster this would
# be sized so each bucket is a few hundred MB at the target SF (e.g. 4096
# buckets for a 1 TB fact table).
N_BUCKETS = 8


def bucketed_table(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Load ``name`` as a parquet table bucketed (and sorted) on ``key``,
    writing it to the session warehouse on first use (cached per sf_dir).

    Bucketing is the on-disk pre-shuffle: both sides of a join bucketed on
    the join key with the same bucket count satisfy the join's required
    distribution straight off the scan, so the exchange (and with one file
    per bucket, the sort) disappears from the plan. At 100 TB this is the
    difference between re-shuffling the fact table on every join and
    shuffling it once at ingest — the standard layout for a fact table
    joined repeatedly on the same key.

    The ``repartition(N_BUCKETS, key)`` before the write makes each task
    hold exactly one bucket, yielding one file per bucket — the layout
    Spark requires to trust the per-bucket sort order.
    """
    from pyspark.sql import functions as F

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = f"bkt_{name}_{suffix}"
    if not spark.catalog.tableExists(tbl):
        # The warehouse dir outlives the in-memory catalog: a leftover
        # location from a previous session makes saveAsTable fail with
        # LOCATION_ALREADY_EXISTS even in overwrite mode. Clear it.
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        leftover = os.path.join(warehouse, tbl)
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
        df = load_table(spark, sf_dir, name)
        (
            df.repartition(N_BUCKETS, F.col(key))
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)
