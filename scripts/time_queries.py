"""Best-of-N timing for arbitrary registered queries, with the bench's
canary bracket — the per-query measurement tool for gated-only queries
the HEADLINE bench does not carry. Warm-up and timing are bench.py's
`warm_up` / `time_query`, so numbers here follow the headline's clock
rule (builder plus noop-sink execution).

Usage: python scripts/time_queries.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_ITERS (default 3).
Prints one JSON line per query plus a trailing canary-bracket line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _canary_pair, time_query, warm_up
from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    spark = get_spark(app_name="time_queries")
    specs = load_all()
    warm_up(spark, specs, sf_dir)
    start = _canary_pair()
    for name in names:
        runs = [round(t, 3) for t in time_query(spark, specs[name], sf_dir, iters)]
        print(json.dumps({"query": name, "best": min(runs), "runs": runs}))
    print(json.dumps({"canary_start": start, "canary_end": _canary_pair()}))
    spark.stop()


if __name__ == "__main__":
    main()
