"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Without that variable the session takes one thread per host CPU.

This module owns the one timed run every measuring tool uses
(:func:`timed_run`), the one sampling loop (:func:`measure`) and the
one host-speed canary (:func:`host_canary`).

Invariant: a timed run starts its clock before the DataFrame is built
(eager construction jobs count), writes the query to the noop sink with
an ``Observation`` row count, and cleans up untimed: ``clearCache()``,
``gc.collect()``, then ``System.gc()`` (the ContextCleaner frees cut and
broadcast blocks only after a JVM GC, and blocks left pinned push a
stall into a later query's timed window).

Output contract (the driver tails stdout and parses the LAST line):
the FINAL stdout line is a JSON object carrying ``value`` = Σ(per-query
min over every sample), the single-pass ``batch_total``, the per-query
``queries`` map (interleaved min), the host-speed ``canary`` and the
canary-normalized totals, sf, the resources the run resolved (``cpus``,
``master``, ``defaultParallelism``, ``driver_memory``), and per-query
``jobs`` and ``construct_s`` of each query's first timed run.  Keys are
only ever added.  The history of these choices is in OPTIMIZATION_r16.md
("bench.py measurement contract").
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

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

#: fixed-work canary references: BENCH_r13.json python_1core_sec and
#: BENCH_r14.json spark_allcores_sec
REF_CANARY = 0.132
REF_SPARK_CANARY = 0.113


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> None:
    """Free what the last run pinned: cached tables, Python-held
    DataFrames, then (through a JVM GC) cut and broadcast blocks."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the jobs and stages just run."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


def spark_probe(spark):
    """perfbench's job-group counter on this session (imported here:
    perfbench imports this module)."""
    path = os.path.join(ROOT, "perfbench")
    if path not in sys.path:
        sys.path.insert(0, path)
    from measure import SparkProbe

    return SparkProbe(spark)


def timed_run(spark, build) -> tuple[float, int, float]:
    """Time ``build()`` plus the noop write of the DataFrame it returns,
    then :func:`release` untimed.  Returns (wall s, output rows,
    construction s)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    t0 = time.time()
    df = build()
    built = time.time() - t0
    materialize(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    wall = time.time() - t0
    rows = obs.get["rows"]
    release(spark)
    return wall, rows, built


def warm_up(spark, sf_dir: str) -> None:
    """Prime the JVM, codegen, parquet footers and the Python/Arrow
    worker pool, untimed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    materialize(all_queries()["q_pricing_summary"](spark, sf_dir))
    materialize(
        spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long")
    )
    r = spark.range(1024).withColumn("g", F.col("id") % 8)
    materialize(
        r.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
        .join(F.broadcast(r.groupBy("g").count()), "g")
    )


def measure(spark, names: list[str], sf_dir: str) -> dict[str, dict]:
    """The bench loop over ``names``: a warm-up, a batch pass (a second
    sample for a query whose first exceeds 1 s), then
    $SPARK_GRAFT_BENCH_SWEEPS (default 2) round-robin sweeps, which
    spread a host CPU-steal burst over every query instead of the one
    it lands on.  Each query's first run is counted in a job group of
    its own.  Returns per query ``samples`` (every timed wall, in run
    order), ``batch`` (min of the batch pass), ``jobs`` and
    ``construct_s`` (of the first run)."""
    queries = all_queries()
    probe = spark_probe(spark)
    warm_up(spark, sf_dir)

    def build(name: str):
        return lambda: queries[name](spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        with probe.group(f"bench:{name}"):
            wall, _, built = timed_run(spark, build(name))
        drain(spark)
        samples = [wall]
        if wall > 1.0:
            samples.append(timed_run(spark, build(name))[0])
        out[name] = {
            "samples": samples,
            "batch": min(samples),
            "jobs": probe.group_stats(f"bench:{name}")["jobs"],
            "construct_s": built,
        }
    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_SWEEPS", "2"))):
        for name in names:
            out[name]["samples"].append(timed_run(spark, build(name))[0])
    return out


def host_canary(spark) -> dict[str, float]:
    """Fixed-work host-speed measurements recorded beside the suite
    totals: a pure-Python 1-core arithmetic loop and a fixed all-core
    Spark range-sum, min of 3 each.  Divide cross-round Σ(min) deltas by
    the canary ratio before reading them as regressions."""

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
    res = measure(spark, HEADLINE, sf_dir)
    canary = host_canary(spark)

    timings = {n: round(r["batch"], 3) for n, r in res.items()}
    imins = {n: round(min(r["samples"]), 3) for n, r in res.items()}
    total = round(sum(timings.values()), 3)
    value = round(sum(imins.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # bulky per-query dicts also go on their own lines for NDJSON readers
    print(json.dumps({"detail": "batch_queries", "queries": timings}))
    print(json.dumps({"detail": "interleaved_min", "queries": imins}))
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "headline": "sum_min",
                "value": value,
                "value_canary_norm": round(
                    value * REF_CANARY / canary["python_1core_sec"], 3
                ),
                # the suite is multicore work: prefer this deflator
                "value_canary_norm_spark": round(
                    value * REF_SPARK_CANARY / canary["spark_allcores_sec"], 3
                ),
                "canary_ref_spark": REF_SPARK_CANARY,
                "canary_ref": REF_CANARY,
                "unit": "sec",
                "n_queries": len(timings),
                "batch_total": total,
                "canary": canary,
                "queries": imins,
                "sf": sf_val,
                "cpus": default_parallelism(),
                "master": spark.sparkContext.master,
                "defaultParallelism": spark.sparkContext.defaultParallelism,
                "driver_memory": spark.conf.get("spark.driver.memory", None),
                "jobs": {n: r["jobs"] for n, r in res.items()},
                "construct_s": {n: round(r["construct_s"], 3) for n, r in res.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
