"""Generate PLANS.md: one row per registered batch query, sorted by
name, with the plan facts that matter at 100 TB — distinct file scans,
shuffle exchanges, broadcast joins/exchanges, cached-frame reads, and
any Python row-eval nodes (should be zero outside the Arrow-batched
operators).

Streaming queries are skipped (building them executes the stream).
Run: python tools/plan_report.py  (rewrites PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHUFFLE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
)


def plan_row(spark, name, fn, sf) -> tuple:
    """One PLANS.md row for a registered query: (name, scans, shuffles,
    bcast joins, py rows, notes) — all strings. Shared with the drift
    test (tests/test_plans.py) so the committed fact sheet can't
    silently diverge from the code it documents."""
    if name.startswith("stream_"):
        return (name, "—", "—", "—", "—", "streaming (executes on build)")
    try:
        p = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
    except Exception as ex:  # pragma: no cover - report tool
        return (name, "?", "?", "?", "?", f"plan error: {ex}"[:60])
    finally:
        spark.catalog.clearCache()
    scans: dict[str, set] = {}
    for line in p.splitlines():
        t = re.search(r"/(\w+)\.parquet", line)
        if "FileScan" in line and t:
            sig = tuple(re.findall(r"#\d+", line.split("Batched")[0]))
            scans.setdefault(t.group(1), set()).add(sig)
    n_scans = sum(len(v) for v in scans.values())
    n_shuffle = len(SHUFFLE.findall(p))
    n_bcast = p.count("BroadcastHashJoin")
    py = p.count("BatchEvalPython")
    arrow = (
        p.count("FlatMapGroupsInPandas")
        + p.count("FlatMapCoGroupsInPandas")
        + p.count("MapInPandas")
        + p.count("ArrowEvalPython")
    )
    note = []
    if py:
        note.append(f"ROW-WISE PYTHON x{py}")
    if arrow:
        note.append(f"arrow-batched x{arrow}")
    if "InMemoryTableScan" in p:
        note.append("pinned reuse")
    n1p = count_partitionless_windows(p)
    if n1p:
        note.append(f"1p-window x{n1p}")
    return (name, str(n_scans), str(n_shuffle), str(n_bcast), str(py), ", ".join(note))


def count_partitionless_windows(plan: str) -> int:
    """Window nodes whose input is a single-partition exchange — the
    plan signature of an UNPARTITIONED window (every row on one task).
    Fine over a domain-bounded aggregate (per-bucket / per-day rows);
    a scale hazard over raw data. Counted from the plan text: a Window
    node followed within its subtree prefix by ``Exchange
    SinglePartition`` (a Sort typically sits between). Shared with the
    test gate (tests/test_plans.py) so the enumeration and the
    whitelist cannot drift apart."""
    lines = plan.splitlines()
    n = 0
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(GroupLimit)?\b \[", line) or re.match(
            r"[\s+:*-]*Window \[", line
        ):
            for nxt in lines[i + 1 : i + 4]:
                if "Exchange SinglePartition" in nxt:
                    n += 1
                    break
                if re.search(r"\bExchange hashpartitioning\b", nxt):
                    break
    return n


def main() -> None:
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES
    from bcg_contacts_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    rows = [plan_row(spark, name, QUERIES[name], sf) for name in sorted(QUERIES)]

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — whole-board physical-plan facts (generated)\n\n"
            "`python tools/plan_report.py` regenerates this file at "
            "sf0.001. Columns: distinct file scans (per-table distinct "
            "scan signatures summed), shuffle exchanges "
            "(hash/range/single — broadcasts excluded), broadcast hash "
            "joins, row-wise Python eval nodes (the slow path — zero "
            "everywhere; Arrow-batched pandas operators are listed in "
            "the notes instead), notes.\n\n"
            "| query | scans | shuffles | bcast joins | py rows | notes |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
