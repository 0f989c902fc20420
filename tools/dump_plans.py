"""Generate PLANS.md: formatted physical plans for the flagship queries
with the scale-relevant properties to look for.  Run from the repo root:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

#: the checkout this script lives in (tools/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from end_to_end_datapipeline_project_spark.registry import REGISTRY, _load  # noqa: E402
from end_to_end_datapipeline_project_spark.session import get_spark  # noqa: E402

#: query → what the plan must show (checked as a substring of the plan)
AUDIT: dict[str, list[tuple[str, str]]] = {
    "q_pricing_summary": [
        ("PushedFilters: [IsNotNull(l_shipdate)", "filter reaches the parquet scan"),
        ("partial_", "map-side partial aggregation before the shuffle"),
    ],
    "q_revenue_by_nation": [
        ("BroadcastHashJoin", "dimension joins broadcast, no dim shuffles"),
    ],
    "q_top_customers": [
        ("TakeOrderedAndProject", "top-k never global-sorts"),
    ],
    "q_silver_cleanse": [
        ("PushedFilters", "cleanse predicates pushed to the scan"),
    ],
    "q_lag_enrich": [
        ("*(", "starred spans = whole-stage codegen; haversine/fuel/speed never leave it (no UDF)"),
    ],
    "q_asof_join": [
        ("Window", "as-of = ONE window over the union, no nested loop"),
    ],
    "q_bucketed_join": [
        ("SelectedBucketsCount", "scan is bucket-aware"),
        ("SortMergeJoin", "join without exchanges underneath"),
    ],
    "q_medallion_roundtrip": [
        ("PartitionFilters", "date range prunes partitions at plan time"),
    ],
    "q_bloom_join": [
        ("might_contain", "runtime Bloom filter probes inside the fact scan stage"),
    ],
    "q_decontaminate": [
        ("BroadcastHashJoin", "held-out shingle set broadcasts; train corpus never shuffles"),
    ],
    "q_radius_join": [
        ("Generate explode", "3x3 cell-neighborhood candidates, never a cross join"),
    ],
    "q_histogram": [
        ("partial_", "bins partial-aggregate map-side before the shuffle"),
    ],
    "q_large_orders": [
        ("TakeOrderedAndProject", "top-100 never global-sorts"),
        ("partial_", "per-order quantity sums combine map-side"),
    ],
    "q_prefix_filter_join": [
        ("SortMergeJoin", "candidate join keyed on the long shingle sid"),
        ("!CartesianProduct", "prefix pruning keeps the self-join keyed — never all-pairs"),
    ],
    "q_bm25": [
        ("BroadcastHashJoin", "df/corpus stats broadcast to the scoring join"),
    ],
    "q_concurrency": [
        ("hashpartitioning(day", "running sums shuffle by day, not one global sort"),
    ],
    "q_zscore_anomaly": [
        ("hashpartitioning(user_id", "frame windows shuffle on user_id only"),
    ],
    "q_weighted_sample": [
        ("TakeOrderedAndProject", "weighted top-k is a map + bounded heap, no shuffle"),
    ],
    "q_dq_expectations": [
        ("partial_", "all rule counters combine map-side in one pass per table"),
    ],
    "q_market_share": [
        ("BroadcastHashJoin", "all seven dimension legs broadcast"),
        ("partial_", "conditional volume sums combine map-side"),
    ],
    "q_waiting_suppliers": [
        ("TakeOrderedAndProject", "top-20 never global-sorts"),
        ("BroadcastHashJoin", "supplier/nation broadcast into the reduced agg"),
    ],
    "q_triangle_count": [
        ("BroadcastHashJoin", "edge list broadcasts to both wedge probes"),
    ],
    "q_cdc_compact": [
        ("hashpartitioning(user_id", "rank + change-count share one key shuffle"),
    ],
    "q_ewma": [
        ("hashpartitioning(user_id", "the whole lag-chain runs in one window pass"),
    ],
    "q_correlation_matrix": [
        ("partial_", "all 10 power sums partial-aggregate in one scan pass"),
        ("!Union", "pair fan-out is an explode of one agg row, never a rescan per pair"),
    ],
    "q_pii_scrub": [
        ("!Exchange", "pure map-side regex cascade — zero shuffles"),
    ],
    "q_quality_classifier": [
        ("!Exchange", "features + sigmoid fully inside the scan stage — zero shuffles"),
        ("!pythonUDF", "no Python in the scoring path"),
    ],
    "q_gopher_repetition": [
        ("!Exchange", "sort+run-length in-array: all three repetition signals computed map-side — zero shuffles"),
        ("!Generate", "nothing exploded; grams never become rows"),
    ],
    "q_bitmap_distinct": [
        ("partial_bitmap_construct_agg", "bitmaps build map-side and OR-merge"),
        ("!Expand", "no count_distinct Expand doubling the shuffled rows"),
    ],
    "q_pareto_frontier": [
        ("Window", "skyline via running-max window over price levels"),
        ("hashpartitioning(bkt", "within-bucket prefix max runs PARTITIONED by price bucket — only the ~75-row bucket carry ever crosses one partition"),
        ("!BroadcastNestedLoopJoin", "never the quadratic dominance join"),
        ("!CartesianProduct", "never the quadratic dominance join"),
    ],
    "q_target_encoding": [
        ("BroadcastHashJoin", "O(k) category stats broadcast back over facts"),
    ],
    "q_event_transitions": [
        ("partial_count", "transition pairs combine map-side before the k² agg"),
    ],
    "q_kmeans_step": [
        ("partial_max_by", "argmax collapses the 64 candidates per vector inside the scan stage"),
        ("!Window", "no row_number window: embeddings never shuffle x64"),
    ],
    "q_ann_ivf": [
        ("partial_max_by", "centroid assignment collapses candidates map-side (same form as q_kmeans_step; the window form measured 15x super-linear)"),
    ],
    "q_mixture_sample": [
        ("BroadcastHashJoin", "O(|sources|) probability table broadcasts back over the corpus scan"),
        ("partial_", "keep/char counts combine map-side"),
    ],
    "q_quality_calibration": [
        ("BroadcastHashJoin", "per-source thresholds broadcast, corpus never shuffles on source"),
    ],
    "q_boilerplate_scrub": [
        ("BroadcastHashJoin", "boilerplate fingerprint set broadcasts; corpus shuffles once on doc_id"),
    ],
    "q_hard_negatives": [
        ("!BroadcastNestedLoopJoin", "LSH band prefilter replaced the per-anchor-batch corpus rescan"),
        ("BroadcastHashJoin", "anchor band signatures broadcast; only same-bucket vectors are cosine-scored"),
        ("LessThan(vec_id,8)", "verify-side broadcast is anchors-only (pushed to the scan) — never the O(corpus) vector table"),
        ("Window", "per-anchor top-5 via bounded rank window, no global sort"),
    ],
    "q_duplicate_spans": [
        ("BroadcastHashJoin", "dup-gram digest set joins back adaptively (AQE picks broadcast at small scale, SMJ at 100 TB)"),
    ],
    "q_incremental_minhash": [
        ("!CartesianProduct", "delta probes the capped LSH index — candidates never come from an all-pairs product"),
        ("REPARTITION_BY_NUM", "pair dedup + verify run on a pinned-width exchange (AQE's byte-based coalescing would collapse two-long rows to a handful of tasks)"),
        ("xxhash64", "verify arrays carry 8-byte shingle hashes, not strings (the q_minhash_lsh GC fix)"),
    ],
    "q_dynamic_partition_pruning": [
        ("dynamicpruning", "runtime dim values injected into the fact scan's partition filters"),
    ],
    "q_pagerank": [
        ("partial_sum(cast(", "per-supplier message sums aggregate inside the partition the adjacency row already lives in (the cut keeps its hash partitioning on id)"),
        ("!Exchange hashpartitioning", "no iteration shuffles: the adjacency cut is read where it lives"),
        ("BroadcastHashJoin", "the O(|V|) share vector broadcasts; the checkpointed adjacency never reshuffles"),
    ],
    "q_label_propagation": [
        ("partial_max_by", "modal-label winner partial-aggregates map-side — no per-node sort window"),
        ("BroadcastHashJoin", "label vector broadcasts; the checkpointed edge list never reshuffles"),
    ],
    "q_pack_sequences": [
        ("hashpartitioning(bucket", "corpus-sized cumsum window runs PARTITIONED by bucket"),
        ("hashpartitioning(sb", "bucket base offsets window partitions by super-bucket — only the n/10^6 super-bucket totals ever cross one partition"),
    ],
    "q_sorted_neighborhood": [
        ("hashpartitioning(bucket", "data-sized rank window runs PARTITIONED by key-prefix bucket"),
        ("hashpartitioning(sb", "bucket base offsets partition by 2-char super-bucket; only <=charset^2 rows ever cross one partition"),
    ],
    "q_mannwhitney": [
        ("hashpartitioning(bucket", "histogram-rank window partitions by value-bucket"),
        ("!windowspecdefinition(value", "never the single-partition global-sort rank"),
    ],
    "q_semdedup": [
        ("partial_max_by", "centroid assignment collapses the 32 candidates inside the scan stage (q_kmeans_step form)"),
        ("hashpartitioning(centroid_id", "within-cluster rank + pairwise verify shuffle on centroid_id only"),
        ("!CartesianProduct", "pairwise cosine only inside capped clusters, never all-pairs"),
    ],
    "q_dsir_select": [
        ("TakeOrderedAndProject", "top-N by importance weight never global-sorts"),
        ("BroadcastHashJoin", "O(B) bucket log-weight table broadcasts back into the token scan"),
        ("partial_", "per-doc weight sums combine map-side before the doc_id shuffle"),
    ],
    "q_media_decode": [
        ("MapInPandas", "forge + decode run as Arrow-batched kernels, never row-at-a-time UDFs"),
        ("REPARTITION_BY_NUM", "the ONLY exchange is the deliberate Python fan-out pin (single-file scan would otherwise starve the kernel cores)"),
        ("!ENSURE_REQUIREMENTS", "no plan-required shuffles — the decode chain carries no join/agg"),
    ],
    "q_naive_bayes": [
        ("BroadcastHashJoin", "O(vocab x k) pivoted model broadcasts to the token stream — one shuffle total"),
        ("!Window", "argmax via array_sort over (−score, class) structs — no per-doc rank window"),
    ],
    # --- the r12 incremental-maintenance family (VERDICT r12 task #4).
    # Their heaviest machinery (probe joins, verify, CC iterations) runs
    # during CONSTRUCTION behind localCheckpoints, so the final-stage
    # gates pin what a regression would surface here: a lost checkpoint
    # inlines the whole construction (Scan ExistingRDD disappears), a
    # broadcast regressing to sort-merge drops BroadcastHashJoin.
    "q_minhash_clusters": [
        ("BroadcastHashJoin", "fingerprint-map reattachment joins the O(#reps) label table without reshuffling members"),
        ("Scan ExistingRDD", "the digests and groups cuts the labels reattach through enter as checkpointed state — a lost localCheckpoint would inline the whole LSH construction (a small rep graph's CC labels come back from the driver as a LocalTableScan)"),
        ("!CartesianProduct", "pair generation never degenerates to all-pairs"),
    ],
    "q_incremental_minhash_clusters": [
        ("BroadcastHashJoin", "rep-relabel map broadcasts over stored labels (pure label substitution, zero signature work)"),
        ("Scan ExistingRDD", "stored base clustering + maintained capped index enter as checkpointed state, never recomputed"),
        ("!CartesianProduct", "delta probe + contract-and-expand stay keyed — never all-pairs"),
    ],
    "q_incremental_pagerank": [
        ("BroadcastHashJoin", "patched rank vector broadcasts back over the node list — O(V) rows, edges never reshuffle here"),
        ("Scan ExistingRDD", "stored per-iteration ranks enter as checkpointed state"),
        ("!CartesianProduct", "blast-radius patch stays keyed"),
    ],
    "q_incremental_label_propagation": [
        ("partial_max_by", "re-vote modal winner partial-aggregates map-side — no per-node sort window"),
        ("BroadcastHashJoin", "patched label vector broadcasts back over the node list"),
        ("Scan ExistingRDD", "stored per-iteration labels enter as checkpointed state"),
    ],
}


#: prefix of the temp directory the pruned-read probe stores its
#: adjacency under; canonicalize() replaces the directory with a token
_ADJ_ROOT_PREFIX = "spark_graft_plans_adj_"


def _adj_pruned_probe(spark, sf_dir):
    """A pruned stored-adjacency read exactly as the incremental
    PR/LPA patch kernels issue one per level (graph.read_pruned over an
    adjacency segment committed through StateStore) — synthesized here
    because the kernels run it during CONSTRUCTION behind
    localCheckpoints, so the registered queries' FINAL plans can never
    exhibit it."""
    import shutil
    import tempfile
    import weakref

    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark.graph import (
        adj_rows,
        read_pruned,
    )
    from end_to_end_datapipeline_project_spark.state import StateStore

    half = spark.range(5000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    root = tempfile.mkdtemp(prefix=_ADJ_ROOT_PREFIX)
    store = StateStore(root)
    store.commit(
        0, append={"adj": adj_rows(half)}, partition_by={"adj": ["__bkt"]}
    )
    keys = spark.range(64).select(F.col("id").alias("src"))
    pruned = read_pruned(spark, store.dirs("adj"), keys, "src long, dst long")
    # the store lives as long as the plan that reads it: main() drops the
    # DataFrame once its plan is dumped (at the latest, at exit)
    weakref.finalize(pruned, shutil.rmtree, root, True)
    return pruned


def _verify_bcast_probe(spark, sf_dir):
    """The r15 broadcast-form exact-Jaccard verify (dedup.
    verify_candidates below VERIFY_BCAST_MAX) on the sf documents
    corpus — the ×100 decade fix whose property is that candidate
    pairs never cross an exchange carrying a shingle array; audited
    directly because every registered consumer checkpoints the verify
    output during construction."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        minhash_candidates,
        shingle_arrays,
        verify_candidates,
    )
    from end_to_end_datapipeline_project_spark.sources import (
        pin_parallelism,
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    arrs = shingle_arrays(
        pin_parallelism(docs, "doc_id")
    ).localCheckpoint()
    # force the broadcast form: the sf0.1 array table sits below the
    # r15 VERIFY_BCAST_MIN floor (bench scale keeps the shuffle form —
    # measured faster there), but THIS audit pins the ×30/×100 shape
    # (explicit force_form kwarg per ADVICE r15 — no global mutation)
    return verify_candidates(
        arrs, minhash_candidates(arrs), force_form="broadcast"
    )


#: construction-time kernel plans that never surface in a registered
#: query's FINAL plan (the kernels checkpoint them mid-construction):
#: audited through direct builders so PLANS.md pins the load-bearing
#: scale shapes anyway (VERDICT r14 task #4).
KERNEL_AUDIT: dict[str, tuple] = {
    "kernel: pruned adjacency scan (q_incremental_pagerank / "
    "q_incremental_label_propagation patch levels)": (
        _adj_pruned_probe,
        [
            ("PartitionFilters: [__bkt", "the frontier's bucket set prunes the stored segment at plan time — patch scans read touched buckets, never full E"),
            ("BroadcastHashJoin", "frontier id semi-join broadcasts (size-gated in code: shuffle fallback above FRONTIER_BCAST_MAX)"),
            ("LeftSemi", "membership probe only — adjacency rows never duplicate per frontier match"),
        ],
    ),
    "kernel: broadcast-form Jaccard verify (dedup.verify_candidates "
    "below VERIFY_BCAST_MAX — the LSH family's scoring stage)": (
        _verify_bcast_probe,
        [
            ("ShuffledHashJoin", "doc_a join: two-long pair rows exchange, NOTHING sorts, arrays build per-partition maps"),
            ("BroadcastHashJoin", "doc_b join: array table broadcasts — fat pair+array rows live only inside one pipeline and collapse to jaccard map-side"),
            ("REPARTITION_BY_NUM", "verify width pinned against AQE byte-based coalescing of two-long pair rows"),
            ("!SortMergeJoin", "the ×100 cliff shape (sort-merge over ~10⁹ pair rows each carrying a ~500-byte array) is gone below the gate"),
        ],
    ),
}


#: single-child wrapper operators whose POSITION in the tree moves with
#: the AQE-chosen broadcast build side (the broadcast chain wraps
#: whichever child AQE decides to build at runtime — a choice that can
#: flip run-to-run when the two sides' materialized shuffle sizes are
#: within noise of each other, VERDICT r8 #1).  Splicing them out (the
#: join node itself still records the strategy as
#: `BroadcastHashJoin ... BuildSide`) makes the rendered tree invariant
#: under the flip, so a regen at an unchanged HEAD is byte-identical
#: and `git diff PLANS.md` stays a real staleness signal.
_SPLICE = ("BroadcastQueryStage", "BroadcastExchange", "AQEShuffleRead")


def canonicalize(plan: str) -> str:
    """Normalize every run-to-run nondeterministic surface of an
    executed-plan string: expression/stage/codegen ids, AQE build-side
    choice (token + the broadcast wrapper subtree position), and
    configured shuffle partition counts (so a deliberately AQE-perturbed
    regen, e.g. different spark.sql.shuffle.partitions, still matches)."""
    plan = re.sub(r", \[plan_id=\d+\]", "", plan)
    # nondeterministic Catalyst expression IDs (#123 -> #N)
    plan = re.sub(r"#\d+", "#N", plan)
    # literal array constants render as the JVM object's identity hash
    # (UnsafeArrayData@7a50b5f7) — different every run
    plan = re.sub(r"(UnsafeArrayData)@[0-9a-f]+", r"\1@N", plan)
    # the pruned-read probe's store is a fresh temp directory each run
    plan = re.sub(
        rf"file:[^\[\]\s,]*{_ADJ_ROOT_PREFIX}\w+", "file:<adj-root>", plan
    )
    # staged fixtures live under a uid-suffixed root, keyed (directory
    # and bucketed table names) by a hash of the testdata files' mtimes;
    # a path cut short by the plan printer keeps a prefix of the hash
    plan = re.sub(r"(spark_graft_\w+?_)\d+/[0-9a-f]{16}/", r"\1<uid>/<fp>/", plan)
    plan = re.sub(r"\b(sg_\w+?_b_)[0-9a-f]+", r"\1<fp>", plan)
    # AQE stage numbers and whole-stage-codegen span ids are
    # execution-order-dependent (vary run to run even at one HEAD)
    plan = re.sub(r"QueryStage \d+", "QueryStage N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    # build side: AQE picks by comparing two materialized sizes that can
    # tie-break differently under host load
    plan = re.sub(r"\bBuild(Left|Right)\b", "BuildSide", plan)
    # parse treeString indentation (3-char units: '+- ', ':- ', ':  ',
    # '   ') into (depth, node-text) and splice the broadcast wrappers:
    # each removed single-child node lifts its subtree one level
    nodes = []
    for line in plan.splitlines():
        prefix = re.match(r"^[ :+\-]*", line).group(0)
        d = len(prefix) // 3
        nodes.append((d, line[d * 3 :]))
    spliced = []
    active: list[int] = []  # original depths of spliced ancestors
    for d, text in nodes:
        active = [rd for rd in active if d > rd]
        if any(text.startswith(s) for s in _SPLICE):
            active.append(d)
            continue
        spliced.append((d - len(active), text))
    out = []
    for d, text in spliced:
        if text.startswith("Exchange "):
            # configured partition counts ("hashpartitioning(k, 32)")
            # are conf-, not plan-shape-, determined
            text = re.sub(r", \d+\)", ", P)", text)
        out.append(text if d == 0 else "  " * (d - 1) + "+- " + text)
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    _load()
    spark = get_spark("plans")
    out = [
        "# PLANS — executed physical plans of the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(re-run after plan-affecting changes).",
        "Each plan is annotated with the scale-relevant properties it must "
        "exhibit; `tools/dump_plans.py` FAILS if a property disappears, so "
        "this doubles as a plan-regression gate.",
        "",
        "Plans are CANONICALIZED for byte-stable regens: expression/stage/"
        "codegen ids, the AQE build-side token (`BuildSide`), and "
        "configured partition counts (`, P)`) and the pruned-read "
        "probe's temp directory (`<adj-root>`) are normalized, and the "
        "broadcast wrapper chain (BroadcastQueryStage/BroadcastExchange/"
        "AQEShuffleRead) is elided — its tree position moves with the "
        "runtime-chosen build side; the join node itself still records "
        "the broadcast strategy.",
        "",
    ]
    failures = []
    audited = [
        *((n, REGISTRY[n].spark_fn, c) for n, c in AUDIT.items()),
        *((n, fn, c) for n, (fn, c) in KERNEL_AUDIT.items()),
    ]
    for name, spark_fn, checks in audited:
        df = spark_fn(spark, sf_dir)
        # collect() drives the DataFrame's OWN QueryExecution (a write
        # would wrap the plan in a command with a fresh QE), so AQE
        # finalizes it and WholeStageCodegen spans / chosen join
        # strategies become visible
        df.collect()
        raw = df._jdf.queryExecution().executedPlan().toString()
        # needles check the RAW plan: canonicalize() splices the
        # broadcast wrapper chain out, so a negated gate like !Exchange
        # evaluated on the canonical form could no longer catch a
        # BroadcastExchange regressing into a zero-shuffle query
        # (ADVICE r9).  Only the RENDERED tree is canonicalized (for
        # byte-stable regens).
        plan = canonicalize(raw)
        out.append(f"## {name}")
        out.append("")
        for needle, why in checks:
            # "!" prefix = the plan must NOT contain the substring
            if needle.startswith("!"):
                ok = needle[1:] not in raw
            else:
                ok = needle in raw
            out.append(f"- {'✓' if ok else '✗ MISSING'} `{needle}` — {why}")
            if not ok:
                failures.append((name, needle))
        out.append("")
        shown = "\n".join(plan.splitlines()[:40])
        out.append("```\n" + shown + "\n```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written; {len(failures)} missing properties")
    for name, needle in failures:
        print(f"  MISSING in {name}: {needle}")
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
