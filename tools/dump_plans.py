"""Dump .explain('formatted') for headline (or named) queries.

Usage:
    python tools/dump_plans.py <outdir> [--sf SF_DIR] [name ...]

Writes <outdir>/<query>_<suffix>.txt (suffix via --suffix, default
none) so optimization rounds can commit before/after plan evidence.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from dataflowex_spark.session import get_spark  # noqa: E402
from dataflowex_spark import queries as _q  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    outdir = args.pop(0)
    sf_dir = "/root/testdata/sf0.1"
    suffix = ""
    i = 0
    names: list[str] = []
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = "_" + args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    registry = _q.queries()
    for name in names:
        fn = registry[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
