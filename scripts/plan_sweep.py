"""Full-registry formatted-plan sweep: per-query physical-plan node
counts (shuffle exchanges, broadcast exchanges, parquet scans, joins by
strategy, Python-boundary nodes) over every BATCH query in the registry.

The optimization rounds' family-audit tool (OPTIMIZATION_r21.md /
OPTIMIZATION_r22.md): static plans overstate cost where AQE reuses
exchanges (CLAUDE.md r17 lesson — the executed plan is the arbiter for
reuse claims), but node-count drift between rounds is exactly how a
silent plan regression (a lost broadcast, a new Expand, a BatchEvalPython
creeping in) becomes visible without running anything.

Streaming queries are excluded (their builders execute the availableNow
replay internally); eager-build Lloyd builders run their training jobs
at plan-build time, which is fine — we want the serving plan text.

`--dump DIR` instead writes each named query's formatted plan (default:
bench.HEADLINE) to DIR/<query>.txt with expression ids, plan ids and RDD
ids normalized, so a before/after pair of dumps diffs to the real plan
change only — the optimization rounds' plan-evidence files.

Usage: python scripts/plan_sweep.py [out.json]
       python scripts/plan_sweep.py --dump DIR [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multithreaded_mapreduce_library_spark.plans import formatted_plan
from multithreaded_mapreduce_library_spark.registry import load_all
from multithreaded_mapreduce_library_spark.session import get_spark

# one count per TREE occurrence: formatted explain prints each operator
# in the numbered tree as "<Name> (<id>)" (partitioning/build-side
# detail lives only in the details section, whose headers are the
# reversed "(<id>) <Name>"), so anchoring on the trailing "(<id>)"
# counts tree nodes exactly once. A plain shuffle prints as "Exchange";
# the word boundary keeps BroadcastExchange and ReusedExchange (a reuse
# of an exchange counted elsewhere, not a second shuffle) out of it.
NODE_PATTERNS = {
    "shuffle_exchange": r"\bExchange \(\d+\)",
    "broadcast_exchange": r"BroadcastExchange \(\d+\)",
    "reused_exchange": r"ReusedExchange \(\d+\)",
    "parquet_scan": r"Scan parquet",
    "rdd_scan": r"Scan ExistingRDD",
    "bhj": r"BroadcastHashJoin[^\n]*\(\d+\)",
    "smj": r"SortMergeJoin[^\n]*\(\d+\)",
    "shj": r"ShuffledHashJoin[^\n]*\(\d+\)",
    "bnlj": r"BroadcastNestedLoopJoin[^\n]*\(\d+\)",
    "cartesian": r"CartesianProduct[^\n]*\(\d+\)",
    "expand": r"Expand \(\d+\)",
    "generate": r"Generate \(\d+\)",
    "python": r"(?:BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|PythonMapInArrow)[^\n]*\(\d+\)",
}


def count_tree_nodes(plan: str) -> dict[str, int]:
    tree = plan.split("\n\n", 1)[0]  # numbered tree section only
    return {
        key: len(re.findall(pat, tree)) for key, pat in NODE_PATTERNS.items()
    }


def normalize(plan: str) -> str:
    """Strip the per-session counters from a formatted plan."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[N]", plan)


def dump(spark, specs, sf_dir: str, out_dir: str, names) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(normalize(formatted_plan(specs[name].builder(spark, sf_dir))))
        print(f"wrote {path}")


def sweep(spark, specs, sf_dir: str, out_path: str) -> None:
    counts: dict[str, dict[str, int]] = {}
    skipped: list[str] = []
    for name in sorted(specs):
        if name.startswith("stream_"):
            skipped.append(name)
            continue
        try:
            df = specs[name].builder(spark, sf_dir)
        except Exception as exc:  # env-gated builders (e.g. missing codecs)
            skipped.append(f"{name} ({type(exc).__name__})")
            continue
        counts[name] = count_tree_nodes(formatted_plan(df))
    result = {"sf_dir": sf_dir, "n_swept": len(counts), "skipped": skipped,
              "queries": counts}
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(counts)} plans, {len(skipped)} skipped")
    # top offenders, for the round doc
    top = sorted(counts.items(), key=lambda kv: -kv[1]["shuffle_exchange"])[:12]
    for n, c in top:
        print(f"{n}: shuffles={c['shuffle_exchange']} bcast={c['broadcast_exchange']} "
              f"scans={c['parquet_scan']} expand={c['expand']} python={c['python']}")


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args[:1] == ["--dump"] and len(args) < 2:
        sys.exit("usage: plan_sweep.py --dump DIR [query ...]")
    spark = get_spark(app_name="plan_sweep")
    specs = load_all()
    if args[:1] == ["--dump"]:
        from bench import HEADLINE

        dump(spark, specs, sf_dir, args[1], args[2:] or HEADLINE)
    else:
        sweep(spark, specs, sf_dir, args[0] if args else "plans/r22/plan_sweep.json")
    spark.stop()


if __name__ == "__main__":
    main()
