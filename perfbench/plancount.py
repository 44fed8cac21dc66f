"""Node counts of an executed (post-AQE) physical plan, as returned by
``plans.final_adaptive_plan``.

Each tree line is classified by its own node name, the first word after
the tree prefix and any ``*(n)`` codegen marker. A ``ReusedExchange`` line
also names the exchange it reuses (``ReusedExchange [..], Exchange ..``),
so matching ``Exchange`` anywhere in the line would count a reuse as a
shuffle; classifying by the node name counts it once, as a reuse.
"""

from __future__ import annotations

import re

PYTHON_NODES = frozenset({
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "WindowInPandas", "ArrowWindowPython",
})

COUNTS = (
    "shuffle_exchanges", "reused_exchanges", "broadcast_exchanges",
    "parquet_scans", "python_nodes", "codegen_stages",
)

_LINE = re.compile(r"^(?P<prefix>[\s:|+\-]*)(?:\*\((?P<stage>\d+)\) )?(?P<node>[A-Za-z]\w*)(?P<rest>.*)$")


def count_nodes(plan: str) -> dict[str, int]:
    """Count the node kinds of ``COUNTS`` in one plan tree."""
    counts = dict.fromkeys(COUNTS, 0)
    # (indent, codegen stage) of the open ancestors of the current line
    stack: list[tuple[int, str | None]] = []
    for line in plan.splitlines():
        m = _LINE.match(line)
        if not m or line.lstrip().startswith("=="):
            continue
        depth, stage, node = len(m["prefix"]), m["stage"], m["node"]
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stage is not None and (not stack or stack[-1][1] != stage):
            counts["codegen_stages"] += 1
        stack.append((depth, stage))
        if node == "Exchange":
            counts["shuffle_exchanges"] += 1
        elif node == "ReusedExchange":
            counts["reused_exchanges"] += 1
        elif node == "BroadcastExchange":
            counts["broadcast_exchanges"] += 1
        elif node in ("FileScan", "Scan") and m["rest"].lstrip().startswith("parquet"):
            counts["parquet_scans"] += 1
        elif node in PYTHON_NODES:
            counts["python_nodes"] += 1
    return counts
