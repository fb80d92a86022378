"""Generate PLANS.md: a physical-plan audit of every declared query.

For each query at a small SF: scan/exchange/broadcast/codegen counts
and whether parquet pushdown engaged — the at-a-glance evidence that
plans have the intended shape (broadcast joins where expected, no
Python in relational paths, filters reaching the scans).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dataflowex_spark.session import get_spark  # noqa: E402
from dataflowex_spark import queries as Q  # noqa: E402
from dataflowex_spark.plans import plan_stats  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_report.py)",
        "",
        f"Scale: `{sf_dir}`. Columns: parquet scans, shuffles (Exchange),",
        "broadcast hash joins, sort-merge joins, scans with pushed filters,",
        "Python eval nodes (should be 0 outside pandas-UDF operators),",
        "unpartitioned window nodes (single-reducer shape: acceptable only",
        "over provably bounded frames, e.g. #partitions-row offsets).",
        "",
        "| query | scans | exchanges | BHJ | SMJ | pushed | pyeval | unpart_win |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, (fn, _sql) in sorted(Q.REGISTRY.items()):
        try:
            s = plan_stats(fn(spark, sf_dir))
            lines.append(
                f"| {name} | {s['scans']} | {s['exchanges']} | "
                f"{s['broadcast_joins']} | {s['sortmerge_joins']} | "
                f"{s['pushed_filters']} | {s['python_evals']} | "
                f"{s['unpartitioned_windows']} |"
            )
        except Exception as e:  # streaming/sink queries may not plan dry
            lines.append(
                f"| {name} | — | — | — | — | — | ({type(e).__name__}) | — |"
            )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
