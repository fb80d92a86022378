"""Full-registry timed sweep (the standing round-close step; run by
``tools/round_close.py``).

The headline bench covers 58 of the 450 registered queries; this
tool times EVERY registry entry at sf0.1 (single shot, post-warmup)
and writes a JSON artifact sorted slowest-first, so the bench tail —
queries that never appear in BENCH_rN.json — gets the same scrutiny.
Any non-headline query beyond the 5 s per-query ceiling gets the
q147 treatment (isolate, plan-stat, fix) or a headline seat.

Usage: python tools/full_sweep.py [sf_dir] [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from dataflowex_spark.session import get_spark  # noqa: E402
from dataflowex_spark import queries as _q  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_path = None
    if "--json" in sys.argv:
        out_path = sys.argv[sys.argv.index("--json") + 1]
    spark = get_spark("dataflowex-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    for t in [
        "lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    registry = _q.queries()
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for i, (name, fn) in enumerate(registry.items(), 1):
        t0 = time.time()
        try:
            fn(spark, sf_dir).count()
            times[name] = round(time.time() - t0, 3)
        except Exception as ex:  # noqa: BLE001 — sweep must finish
            errs[name] = f"{type(ex).__name__}: {ex}"[:300]
        if i % 25 == 0:
            print(f"[{i}/{len(registry)}] ...", file=sys.stderr)
            # drop dead localCheckpoint blocks between queries (the
            # ContextCleaner frees them only after a JVM GC) so a
            # late query is never timed under the block-manager
            # pressure of 400 earlier ones — untimed, outside t0
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
    ranked = sorted(times.items(), key=lambda kv: -kv[1])
    doc = {
        "sf_dir": sf_dir,
        "n": len(times),
        "total_sec": round(sum(times.values()), 1),
        "slowest": ranked[:25],
        "times": dict(ranked),
        "errors": errs,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in
                      ("n", "total_sec", "slowest", "errors")}))
    spark.stop()


if __name__ == "__main__":
    main()
