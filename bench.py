"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Without that variable the session takes one thread per host CPU.

Output contract (the driver tails stdout and parses the LAST line):
the FINAL stdout line is a JSON object carrying the suite total, the
per-query ``queries`` map (interleaved min — the noise-robust
estimator), the host-speed canaries, sf, and the resources the run
resolved (``cpus``, ``master``, ``defaultParallelism``,
``driver_memory``).  MEASUREMENT-CONTRACT FIX
(round 16, VERDICT r15 task #2): through r15 the per-query map rode an
EARLIER NDJSON line (``"detail": "interleaved_min"``) and the final
line carried totals only, which left the driver's PERF machinery blind
(PERF_r15: ``per_query: {}``, ``n_common: 0``, geomean null).  The map
is ~1.5 KB — well within a tail capture — so it now ALSO rides the
final line as ``queries``; the earlier NDJSON detail lines are kept
unchanged for human/NDJSON consumers and for continuity with r12-r15
logs.  Since round 12 the headline ``value`` is the noise-robust
Σ(per-query min over all passes); the single-pass batch-order total
rides alongside as ``batch_total`` (rationale at the emit site).

Each query is fully materialized through a noop sink (no driver-side
collect skew); a warm-up pass primes the JVM/codegen so the numbers
reflect steady-state plan execution, which is what scales.  The host
canary (fixed 1-core python loop + fixed all-core Spark job, min of 3)
is emitted every round so cross-round Σ(min) deltas can be normalized
mechanically: this shared host has shifted ±35% with no code change
(r6→r7), and without a canary every such shift costs an investigation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from end_to_end_datapipeline_project_spark.registry import all_queries
from end_to_end_datapipeline_project_spark.session import (
    default_parallelism,
    get_spark,
)

#: headline queries: the reference-parity pipeline (scan→cleanse→window→
#: agg→topk), the relational join surface, and the LLM-data extensions
HEADLINE = [
    "q_silver_cleanse",
    "q_lag_enrich",
    "q_daily_report",
    "q_drilldown_top_vehicle",
    "q_sessionize",
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_top_customers",
    "q_window_rank",
    "q_token_count",
    "q_text_quality",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_ann_topk",
    "q_multimodal_features",
    "q_asof_join",
    "q_range_join",
    "q_merge_upsert",
    "q_tfidf",
    "q_salted_join",
    "q_chunk_documents",
    "q_user_sequences",
    "q_moving_window",
    "q_radius_join",
    "q_pack_sequences",
    "q_decontaminate",
    "q_gopher_repetition",
    "q_bloom_join",
    "q_zorder_layout",
    "q_sorted_neighborhood",
    "q_unigram_logprob",
    "q_pagerank",
    "q_disjunctive_pushdown",
    "q_large_orders",
    "q_bm25",
    "q_chunk_dedup",
    "q_zscore_anomaly",
    "q_concurrency",
    "q_logreg_grad",
    "q_market_share",
    "q_waiting_suppliers",
    "q_triangle_count",
    "q_label_propagation",
    "q_ohlc_bars",
    "q_ewma",
    "q_pii_scrub",
    "q_quality_classifier",
    "q_cdc_compact",
    "q_correlation_matrix",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def host_canary(spark) -> dict[str, float]:
    """Fixed-work host-speed measurements recorded beside the suite
    totals (same probes as tools/ab_bench.py): a pure-Python 1-core
    arithmetic loop and a fixed all-core Spark range-sum, min of 3
    each.  Divide cross-round Σ(min) deltas by the canary ratio before
    reading them as regressions."""

    def timeit(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    py = min(
        timeit(lambda: sum(i * i for i in range(2 * 10**6)))
        for _ in range(3)
    )
    jvm = min(
        timeit(
            lambda: spark.range(2 * 10**8)
            .selectExpr("sum(id * 2) AS s")
            .collect()
        )
        for _ in range(3)
    )
    return {"python_1core_sec": round(py, 3), "spark_allcores_sec": round(jvm, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries = all_queries()

    # warm-up: prime JVM, codegen, parquet footers, and the Python/Arrow
    # worker pool (mapInPandas queries pay worker fork + Arrow init once
    # per executor; steady state is what scales) — not timed
    materialize(queries["q_pricing_summary"](spark, sf_dir))
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # generic window + broadcast-join warmers (compile WindowExec/BHJ
    # codegen paths once, outside the timed region)
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _r = spark.range(1024).withColumn("g", _F.col("id") % 8)
    materialize(
        _r.withColumn(
            "rn", _F.row_number().over(_W.partitionBy("g").orderBy("id"))
        ).join(_F.broadcast(_r.groupBy("g").count()), "g")
    )

    # report the MIN of two timed passes for any query whose first pass
    # exceeds 1 s: the shared host this runs on shows 2-5x run-to-run
    # variance from CPU steal, and the min is the closest observable to
    # the steady-state plan execution cost (the quantity that scales
    # with cluster size) — a single sample mostly measures host
    # contention at that instant.  Sub-second queries keep one sample:
    # their absolute noise contribution is small and the second pass
    # would double total bench wall for nothing.
    def timed(name: str) -> float:
        t0 = time.time()
        materialize(queries[name](spark, sf_dir))
        dt = time.time() - t0
        # untimed: release the previous run's localCheckpoint / broadcast
        # blocks (ContextCleaner frees them only after a JVM GC, and
        # letting them pile up makes later heavy queries pay a
        # multi-second stall inside their timed window)
        spark._jvm.System.gc()
        return dt

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = timed(name)
        samples[name].append(best)
        if best > 1.0:
            t = timed(name)
            samples[name].append(t)
            best = min(best, t)
        timings[name] = round(best, 3)

    # interleaved sweeps (tools/ab_bench.py methodology folded into the
    # bench ritual): the batch numbers above concentrate any host
    # CPU-steal burst on whichever query was running; two extra ROUND-
    # ROBIN sweeps spread contention across all queries, and the
    # per-query MIN over every sample is the quiet-host estimate — the
    # noise-robust number rounds should be compared on.
    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_SWEEPS", "2"))):
        for name in HEADLINE:
            samples[name].append(timed(name))

    canary = host_canary(spark)

    total = round(sum(timings.values()), 3)
    imins = {n: round(min(ts), 3) for n, ts in samples.items()}
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # bulky per-query dicts go on their own lines (human/NDJSON
    # consumers); the driver parses only the short FINAL line below
    print(json.dumps({"detail": "batch_queries", "queries": timings}))
    print(json.dumps({"detail": "interleaved_min", "queries": imins}))
    # headline `value` = Σ per-query MIN over every sample (first-pass
    # batch + interleaved sweeps): r11's batch-order total read +10%
    # round-over-round while the same-process interleaved A/B read -12%
    # — the batch total concentrates host CPU-steal bursts on whichever
    # query they land on, so the driver-recorded number whipsawed with
    # host noise.  The min-of-samples total is the quiet-host estimate
    # (the steady-state plan cost that actually scales); the batch-order
    # single-pass total stays alongside as `batch_total`.
    # canary-normalized total (VERDICT r13 task #6): Σ(min) scaled by
    # this host's python canary against the fixed reference canary
    # below, so cross-round comparisons on drifting shared hosts have
    # ONE number both the builder's and the driver's records can use
    # (r13: the A/B appendix read "flat" while the driver record read
    # −6%, with a 20%-apart canary doing the explaining).  The
    # reference value is the r13 driver record's canary — normalizing
    # every round to the same fixed host-speed unit.
    ref_canary = 0.132  # BENCH_r13.json python_1core_sec
    ref_spark_canary = 0.113  # BENCH_r14.json spark_allcores_sec
    value = round(sum(imins.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                # schema marker (ADVICE r12): `value` is the
                # Σ(per-query min) estimator since r12 — consumers can
                # detect the change instead of misreading it against
                # pre-r12 batch-order totals
                "headline": "sum_min",
                "value": value,
                "value_canary_norm": round(
                    value * ref_canary / canary["python_1core_sec"], 3
                ),
                # spark-canary-normalized total (VERDICT r15 "what's
                # wrong" #4): in r15 the 1-core python canary and the
                # all-core spark canary DISAGREED (python said host 32%
                # faster, spark said 25% slower) — single-core and
                # multicore host speed decouple under CPU steal, and the
                # suite is multicore work, so the spark canary is the
                # honest deflator for Σ(min).  Both are emitted; prefer
                # this one for cross-round suite comparisons.
                "value_canary_norm_spark": round(
                    value * ref_spark_canary / canary["spark_allcores_sec"], 3
                ),
                "canary_ref_spark": ref_spark_canary,
                "canary_ref": ref_canary,
                "unit": "sec",
                "n_queries": len(timings),
                "batch_total": total,
                "canary": canary,
                # per-query interleaved-min map — the driver's PERF
                # contract parses THIS line only (round-16 fix, see
                # module docstring); keys here are a superset-stable
                # set: entries may be added round-over-round, never
                # removed or renamed
                "queries": imins,
                "sf": sf_val,
                # the resources this run resolved (VERDICT r16 #1)
                "cpus": default_parallelism(),
                "master": spark.sparkContext.master,
                "defaultParallelism": spark.sparkContext.defaultParallelism,
                "driver_memory": spark.conf.get("spark.driver.memory", None),
            }
        )
    )


if __name__ == "__main__":
    main()
