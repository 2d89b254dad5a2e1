"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is forced end-to-end with the JVM-side ``noop`` sink so
timing includes the full physical plan but no Python row transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# Headline subset: one representative per operator family (scan-agg,
# multiway join, window, set-op, text, time-series, dedup, similarity).
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q_topk_per_group",
    "q_running_total",
    "q_wordcount",
    "q_sessionize",
    "q_asof_join",
    "q_scd2_merge",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_ivf_trained",
    "text_quality_score",
    "mm_decode_features",
    # heavy round-3 operators: gated so regressions are visible (the
    # ngram-jaccard lesson — an ungated heavy path drifted 2 rounds).
    # stream_near_dedup's BATCH CORE is gated as dedup_minhash_incremental
    # (same pairing operator, minhash_lsh_pairs_incremental) — the full
    # streaming harness is ~50s of engine scaffolding + 12 versioned
    # commits per run, too jittery in-suite for a regression gate and
    # already exercised end-to-end by pytest + the graded oracle row.
    "dedup_substring_spans",
    "sim_semantic_dedup",
    "text_bloom_decontaminate",
    "text_lm_perplexity",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from sql_based_etl_spark.queries import all_queries
    from sql_based_etl_spark.session import get_spark

    spark = get_spark(app_name="sql_based_etl_bench")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    extra = os.environ.get("SQL_ETL_BENCH_QUERIES")
    if extra:
        names = [n for n in extra.split(",") if n in registry]

    # untimed warmup: JVM/codegen/parquet-footer costs land here, not on
    # the first measured query
    registry["q06_forecast_revenue"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    for name in names:
        # Warm pass, then measure: the first execution of a query pays
        # one-time JVM costs (whole-stage-codegen compilation + JIT of the
        # generated methods — seconds for the wide minhash/simhash
        # expressions) that a long-running engine amortizes to zero, and
        # that vary with host load. The timed pass is the steady-state
        # per-query cost. Construction is inside the timed window so
        # side-effecting queries (q_scd2_merge runs its pipeline eagerly
        # when invoked) don't hide their work.
        registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        # min of two timed passes: HotSpot's compile queue drains huge
        # generated methods over multiple executions, and the shared
        # host adds minute-scale jitter — a single timed pass measured
        # up to 5× spread on identical plans. The min is the
        # steady-state cost a long-running engine actually pays.
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = registry[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        # drop caches AND collect dead broadcast/shuffle state: without the
        # explicit gc, broadcast blocks from earlier queries accumulate and
        # a later wide self-join pays their eviction/GC inside its timing
        # (measured 4× inflation on dedup_ngram_jaccard in the full suite)
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
