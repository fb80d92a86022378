"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a count() action (full
plan runs; result sizes stay driver-safe). Timings include Catalyst
planning but not session boot.

Per-query time is the MEDIAN of 3 runs (after an untimed first-touch
warmup), with a per-query ``spread`` (max-min over the 3) emitted
alongside — single-shot timings on a loaded box produced a phantom
2.4× "regression" in round 2 (uniform slowdown incl. a bare
projection); medians make the round-over-round signal robust to
background load. Override repeats with $SPARK_GRAFT_BENCH_REPS.

Round 12 (additions-only, methodology unchanged): the JSON line also
carries ``reps_sec`` (per-rep times in run order, so a stalled rep is
identifiable from the artifact alone) and ``probe_sec`` (a fixed-work
``range(100M).sum()`` box-health probe bracketing the suite — healthy
reads ~0.4-0.7 s on 32 cores; a probe far above that marks the whole
run as contended). Both are outside every timed region.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataflowex_spark.session import get_spark  # noqa: E402
from dataflowex_spark import queries as _q  # noqa: E402

# Headline set: one per operator family, weighted toward the
# scale-critical paths (joins, aggs, windows, dedup, kNN).
HEADLINE = [
    "q01_project_transform",
    "q02_flatmap_explode",
    "q20_join_inner_multi",
    "q21_join_left_outer",
    "q24_join_range",
    "q25_join_asof",
    "q30_agg_pricing_summary",
    "q31_agg_distinct",
    "q33_cube",
    "q40_window_rank",
    "q41_window_running",
    "q72_sessionize",
    "q80_dedup_exact",
    "q81_neardup_minhash",
    "q82_knn_cosine",
    "q83_text_stats",
    "q89_tfidf_top_term",
    "q109_winnow_fingerprint",
    "q112_small_qty_revenue",
    "q118_sequence_packing",
    "q106_crosslsh_novelty",
    "q121_resample_locf",
    "q122_scd2_history",
    "q123_cdc_merge",
    "q131_pagerank",
    "q150_fuzzy_pairs",
    "q139_market_share",
    "q143_waiting_supplier",
    "q147_top_bigrams",
    "q162_doc_chunking",
    "q163_triangle_count",
    "q168_cooccurrence",
    "q169_bigram_lm_score",
    "q184_product_profit",
    "q188_segment_dedup",
    "q191_dup_span_detection",
    "q193_feature_hashing",
    "q234_bloom_prune_join",
    "q235_prefix_filter_jaccard",
    "q238_roc_auc",
    "q243_embedding_covariance",
    "q248_kmv_jaccard",
    # round-5 additions: bounded stream-stream as-of (interval join +
    # windowed argmax) and the versioned MERGE table format
    "q290_asof_bounded",
    "q291_mtable_merge",
    # round-6 additions: manifest-diff CDC changefeed and the
    # Z-order 2-D pruned read
    "q295_mtable_changefeed",
    "q296_mtable_2d_prune",
    # round-6 additions: mergeable-sketch family (portable HLL) and
    # the grid-blocked spatial radius join
    "q315_hll_portable",
    "q317_spatial_radius_join",
    # round-6b additions: merge-on-read deletion vectors and the
    # deterministic t-digest quantile sketch
    "q357_mtable_delete_vectors",
    "q362_tdigest_quantiles",
    # round-6d additions: O(diff) IBLT replica reconciliation and the
    # Hilbert-vs-Morton clustering audit
    "q375_iblt_reconcile",
    "q379_hilbert_vs_morton_layout",
    # round-6e additions: materialized-view rewrite (define + routed
    # answer, plan-asserted zero fact scans) and exact Shapley
    # attribution (journey agg + integer coalition sums)
    "q383_mv_rewrite",
    "q390_shapley_attribution",
    # round-6e late additions: the from-scratch Delta log round trip
    # and the SQL:2011 period-split update (pure scan algebra)
    "q393_delta_read",
    "q409_for_portion_of",
    # round-8 additions: DV-delete DML on the from-scratch Delta log
    # and OPTIMIZE ZORDER BY with its skipping assertion
    "q429_delta_dv_delete",
    "q436_delta_optimize_zorder",
]


def bench_reps() -> int:
    """Timed repeats per query: ``$SPARK_GRAFT_BENCH_REPS``, default 3.
    A value that is not a positive integer raises a ``ValueError`` that
    names the variable."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_REPS", "").strip() or "3"
    try:
        reps = int(raw)
    except ValueError:
        reps = 0
    if reps < 1:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_REPS={raw!r} is not a positive integer "
            "(timed repeats per query)"
        )
    return reps


def main() -> None:
    reps = bench_reps()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("dataflowex-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = _q.queries()

    # untimed warmup: first touch pays JVM classloading + parquet
    # footer listing, which is session cost, not query cost
    for t in [
        "lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # ... as is the one-per-core Python worker spawn (~1.5 s once per
    # session on 4 cores): pre-warm the daemon pool so the first
    # pandas-UDF query measures its computation, not process forking.
    # Same class as the classloading warmup above; the timed
    # methodology is unchanged.
    n_cores = spark.sparkContext.defaultParallelism

    def _touch(it):
        for pdf in it:
            yield pdf

    spark.range(n_cores * 4, numPartitions=n_cores).mapInPandas(
        _touch, "id long"
    ).count()

    def probe() -> float:
        # fixed-work box-health probe (healthy: ~0.4-0.7 s on 32 cores);
        # bracketing the suite makes a contended run identifiable from
        # the artifact alone. Untimed w.r.t. every query measurement.
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        return round(time.time() - t0, 3)

    probe_before = probe()

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    reps_sec: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = registry[name]
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        # per-rep times in RUN ORDER (unsorted), so a single stalled
        # rep is visible in the JSON line; median/spread as before.
        reps_sec[name] = [round(s, 3) for s in samples]
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spread[name] = round(samples[-1] - samples[0], 3)
    total = round(sum(timings.values()), 3)

    probe_after = probe()

    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "reps_sec": reps_sec,
                "probe_sec": {"before": probe_before, "after": probe_after},
                "reps": reps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
