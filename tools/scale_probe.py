"""Scale probe: replicate the sf0.1 tables ×K (disjoint key spaces, same
distributions) into /tmp, run representative queries at both scales, and
record the runtime ratios in SCALING.md.

A plan whose runtime grows ≈K× on K× data is shuffle/scan bound (healthy —
it will ride more executors); super-linear growth flags an operator whose
fan-out or state grows with data size (the thing that kills 100 TB runs).

    python tools/scale_probe.py [K] [query ...]      sf0.1 vs ×K ratio table
    python tools/scale_probe.py K --tail [query ...]    ×10 vs ×K growth
    python tools/scale_probe.py K --decade [query ...]  ×30 vs ×K growth
    python tools/scale_probe.py K --lsh-ingest       seeded LSH ingest, ×30 and ×K
    python tools/scale_probe.py K --skew [query ...]    uniform vs hot keys at ×K
    python tools/scale_probe.py K --sparse-lpa | --sparse-pr   delta sweep
    python tools/scale_probe.py --ab [query ...]     bench.py's loop, interleaved

Every cell is one or more ``bench.timed_run`` calls.  Each mode owns one
SCALING.md section (``SECTIONS``, in file order) and writes it through
``write_section``.  A run given a query subset keeps the section's rows
for every other query; the ratio table and the A/B appendix print a
subset run and write nothing.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

#: the checkout this script lives in (tools/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import (  # noqa: E402
    HEADLINE,
    REF_SPARK_CANARY,
    drain,
    host_canary,
    measure,
    spark_probe,
    timed_run,
)
from end_to_end_datapipeline_project_spark import graph  # noqa: E402
from end_to_end_datapipeline_project_spark.registry import REGISTRY, _load  # noqa: E402
from end_to_end_datapipeline_project_spark.session import get_spark  # noqa: E402
from end_to_end_datapipeline_project_spark.sources import (  # noqa: E402
    claim_staged,
    read_parquet_table,
)

BASE_SF = "/root/testdata/sf0.1"
SCALING = os.path.join(ROOT, "SCALING.md")
#: replicas and probe state live under one uid-suffixed root
SCALE_ROOT = f"/tmp/spark_graft_scale_{os.getuid()}"

RATIO_MARKER = "# SCALING — measured runtime growth"
TAIL_MARKER = "## Output-bound tail probe"
DECADE_MARKER = "## Decade cell (work-probe tail, tool-generated)"
LSH_INGEST_MARKER = "## LSH maintenance ingest-only decade cell (tool-generated)"
SKEW_MARKER = "## Skewed-key probe (hot keys, tool-generated)"
SPARSE_LPA_MARKER = (
    "## Sparse-graph delta-scaling probe (incremental LPA, tool-generated)"
)
SPARSE_MARKER = (
    "## Sparse-graph delta-scaling probe (incremental PageRank, "
    "tool-generated)"
)
AB_MARKER = "## Interleaved A/B adjudication"

#: SCALING.md's sections, each starting at its marker, in file order
SECTIONS = (
    RATIO_MARKER,
    TAIL_MARKER,
    DECADE_MARKER,
    LSH_INGEST_MARKER,
    SKEW_MARKER,
    SPARSE_LPA_MARKER,
    SPARSE_MARKER,
    AB_MARKER,
)

#: default `--tail` query set: the four output-bound dedup queries whose
#: caps the tail probe exists to audit
TAIL_DEFAULT = (
    "q_fuzzy_match",
    "q_minhash_lsh",
    "q_prefix_filter_join",
    "q_sorted_neighborhood",
)


def _pf_observed(spark, sf_dir, obs):
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_prefix_filter_join_observed,
    )

    return q_prefix_filter_join_observed(spark, sf_dir, obs)


def _imc_observed(spark, sf_dir, obs):
    """q_incremental_minhash_clusters with its scored-candidate-pair
    count as work_rows: cluster-assignment OUTPUT is one row per doc
    (3.3× over the decade) while the replica k-cliques grow the pair
    workload ~k² by construction — the same intrinsic work the full
    rebuild (the oracle) must score, so judging the wall on output
    alone would mislabel it a deferred quadratic."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        incremental_minhash_clusters,
    )

    work: dict = {}
    df = incremental_minhash_clusters(
        read_parquet_table(spark, sf_dir, "documents"), work
    )
    # since r14 the kernel's gauge is CollectMetrics observations
    # riding its own candidate-stream executions (dedup.observe_pairs)
    # — zero extra actions or checkpoint footprint — and it resolves
    # the summed count before returning; ship it through the harness
    # Observation, which resolves on any action
    spark.range(1).observe(
        obs, F.max(F.lit(work["n_pairs_scored"])).alias("work_rows")
    ).collect()
    return df


#: intrinsic-WORK probes for emission-capped EXACT queries: the cap
#: bounds what the query RETURNS, but an exact algorithm must still
#: score every qualifying row to rank the cap's survivors, so wall
#: growth is judged against max(data, output, work) — judging a capped
#: exact join on post-cap output alone mislabels intrinsic
#: qualifying-pair growth (measured x10→x30: pre-cap pairs 9.6×, capped
#: output 5.2×) as a deferred quadratic.  Approximate queries
#: (minhash/fuzzy/sorted-neighborhood) have no entry: their caps bound
#: the WORK itself, so post-cap output is the right denominator.
#: Each value is the query WITH a CollectMetrics node on the pre-cap
#: rows (signature: (spark, sf_dir, Observation) -> DataFrame), so the
#: work count rides a TIMED run instead of re-executing the plan
#: (ADVICE r8).
def _mc_observed(spark, sf_dir, obs):
    """q_minhash_clusters (the full rebuild) with its scored-pair count
    as work_rows — same output-understates-work rationale as the
    incremental twin: assignments are one row per doc while the replica
    k-cliques grow the verify workload ~k²."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        minhash_cluster_assignments,
    )

    work: dict = {}
    df = minhash_cluster_assignments(
        read_parquet_table(spark, sf_dir, "documents"), work
    )
    # the count is a CollectMetrics node on the seed's verify plan,
    # resolved inside the call once the CC loop's own actions have run
    # it — observed mode never materializes the candidate stream
    spark.range(1).observe(
        obs, F.max(F.lit(work["n_pairs_scored"])).alias("work_rows")
    ).collect()
    return df


WORK_PROBES = {
    "q_prefix_filter_join": _pf_observed,
    "q_incremental_minhash_clusters": _imc_observed,
    "q_minhash_clusters": _mc_observed,
}

#: tables each decade-probe query reads — lets `--decade` replicate only
#: what its subset needs (a full ×100 build of all ten tables writes
#: tens of millions of rows the subset never scans)
WORK_PROBE_TABLES = {
    "q_prefix_filter_join": ("documents",),
    # the three remaining super-linear-suspect families (VERDICT r10
    # task #5): edge-generation-bound graph iterations and the
    # pair-volume-bound item-item cosine, all lineitem-derived
    "q_pagerank": ("lineitem",),
    "q_label_propagation": ("lineitem",),
    "q_item_cosine": ("lineitem",),
    # the headline dedup operator and its incremental twin: output is
    # quadratic in replica count by construction (k-cliques), so the
    # decade cell checks the wall tracks OUTPUT, not a deferred
    # all-pairs
    "q_minhash_lsh": ("documents",),
    "q_incremental_minhash": ("documents",),
    # the r11/r12 incremental-maintenance family: index upsert, cluster
    # maintenance, TF-IDF stat merge, and the delta-edge PageRank
    # restart — the ops a 100 TB ingest tier runs EVERY batch, so each
    # needs its own second-decade cell (VERDICT r11 tasks #3/#5)
    "q_incremental_minhash_clusters": ("documents",),
    "q_minhash_clusters": ("documents",),
    "q_lsh_index_upsert": ("documents",),
    "q_incremental_tfidf": ("documents",),
    "q_incremental_pagerank": ("lineitem",),
    "q_incremental_label_propagation": ("lineitem",),
}

PROBES = [
    "q_daily_report",
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_sessionize",
    "q_dedup_exact",
    "q_asof_join",
    "q_range_join",
    "q_token_count",
    "q_window_rank",
    "q_salted_join",
    "q_chunk_documents",
    "q_fuzzy_match",
    "q_moving_window",
    "q_user_sequences",
    "q_gopher_repetition",
    "q_pack_sequences",
    "q_decontaminate",
    "q_radius_join",
    "q_pmi_bigrams",
    "q_scd2_history",
    "q_hash_sample",
    "q_kmeans_step",
    "q_pagerank",
    "q_incremental_pagerank",
    "q_chunk_dedup",
    "q_bm25",
    "q_concurrency",
    "q_zscore_anomaly",
    "q_large_orders",
    "q_logreg_grad",
    "q_quantile_bucketing",
    "q_per_group_sample",
    "q_market_share",
    "q_waiting_suppliers",
    "q_triangle_count",
    "q_label_propagation",
    "q_incremental_label_propagation",
    "q_ohlc_bars",
    "q_ewma",
    "q_pii_scrub",
    "q_quality_classifier",
    "q_oov_rate",
    "q_cdc_compact",
    "q_correlation_matrix",
    "q_naive_bayes",
    "q_prefix_filter_join",
    "q_cdc_chunks",
    "q_pca_power",
    "q_bitmap_distinct",
    "q_event_transitions",
    "q_item_cosine",
    "q_pareto_frontier",
    "q_table_diff",
    "q_info_gain",
    "q_minhash_lsh",
    "q_minhash_clusters",
    "q_incremental_minhash",
    "q_incremental_minhash_clusters",
    "q_incremental_embedding_neardup",
    "q_lsh_index_upsert",
    "q_bpe_merges",
    "q_tfidf",
    "q_incremental_tfidf",
    "q_script_mix",
    "q_winsorized_stats",
    "q_bigram_logprob",
    "q_ann_hyperplane_lsh",
    "q_mixture_sample",
    "q_quality_calibration",
    "q_boilerplate_scrub",
    "q_hard_negatives",
    "q_minhash_recall",
    "q_ngram_novelty",
    "q_duplicate_spans",
    "q_sorted_neighborhood",
    "q_stay_points",
    "q_trip_segments",
    "q_geofence_transitions",
]

KEY_OFFSETS = {
    # replica i shifts every key column by i * offset → disjoint key spaces,
    # join consistency preserved because both sides shift together
    "events": {"event_id": 10**9, "user_id": 10**4},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**6},
    "lineitem": {"l_orderkey": 10**9, "l_partkey": 10**6, "l_suppkey": 10**6},
    "customer": {"c_custkey": 10**6, "c_nationkey": 0},
    "supplier": {"s_suppkey": 10**6, "s_nationkey": 0},
    "part": {"p_partkey": 10**6},
    "nation": {},
    "region": {},
    "documents": {"doc_id": 10**7},
    "embeddings": {"vec_id": 10**7},
}


#: ratios that need context: the replica construction makes every doc a
#: member of a k-clique of near-duplicates, so similarity JOIN OUTPUT grows
#: ~k^2 while input grows k — their wall-clock is output-bound, and
#: runtime-per-output-row actually improves at x10.
NOTES = {
    "q_prefix_filter_join": "(output-bound: replica k-cliques make QUALIFYING pairs grow ~x1000; PPJoin asymmetric probe/index prefixes + long-sid array-intersect verify - r8 cut x10 30.5s -> 11.8s and x30 182s -> 47s; remaining growth tracks output) ",
    "q_fuzzy_match": "(output-bound: match pairs grow ~x100 on replica k-cliques; block cap 64 + top-8 emission bound candidates and output linearly once blocks saturate) ",
    "q_minhash_lsh": "(output-bound: replica k-cliques are real near-dups, candidates and output grow ~k^2 by construction; per-(seed,minhash) occupancy cap 1024 bounds chance-collision buckets at billion-doc scale, oracle-mirrored; r11 skew-probe fixes - hot-bucket chunking, xxhash64 verify arrays, width-pinned pair dedup - cut x10 uniform 13.1s->5.2s and x10 hot-key 91.9s->14.6s; r12 exact-duplicate pre-collapse removes the remaining quadratic: identical texts sign once, so an n-copy group emits 0 pairs instead of C(n,2)) ",
    "q_minhash_clusters": "(collapse-then-cluster: LSH pairs + CC over exact-distinct reps only, members reattach via the fingerprint map - per-member cost is one digest-shuffle row + one map-join row) ",
    "q_incremental_minhash_clusters": "(LSH-sourced cluster maintenance: rep relabels are label substitutions, only novel texts are signed and probe the maintained capped index, contract-and-expand CC on the novel blast radius; a cap-binding ingest takes the r13 SCOPED recluster - only components containing an evicted doc re-derive from the capped index, everything else keeps stored labels; oracle = full rebuild) ",
    "q_ann_hyperplane_lsh": "(12 bands x 4 sign bits, seeded-PRNG hyperplanes, occupancy cap 128 + top-10 emission; measured recall 0.889 vs exact >=0.45 top-10 at sf0.1; 8x2 correlated-weight form measured 4.9x and recall 0.44) ",
    "q_incremental_minhash": "(output-bound like q_minhash_lsh: the delta's share of the replica k-clique pairs grows ~k^2; the probe join bounds per-bucket work at |delta members| x cap, r12 partner-chunk fan-out spreads a hot bucket's probe work over CHUNKS subkeys) ",
    "q_incremental_pagerank": "(delta-edge restart: stored per-iteration ranks + 3-hop blast-radius patch, oracle = full rebuild; on this deliberately dense co-supply graph [~60 nbrs/node] the 3-hop ball saturates, so wall ~ rebuild + frontier overhead - the bound is |blast radius| edges per level, which is what shrinks on sparse production graphs) ",
    "q_incremental_embedding_neardup": "(delta band signatures probe the capped index; candidate volume scales with the delta share of each bucket) ",
    "q_lsh_index_upsert": "(linear by construction: one signature pass over base+delta and one (seed,minhash) window; output = 8 rows per shingled doc) ",
    "q_script_mix": "(translate() char-map counts; the 4-regex-pass form measured 4.1x) ",
    "q_pagerank": "(edge-gen bound: dedup-(part,supp)-then-equi-join pair emission beat the collect_set form at sf0.1 and x10; the rounded message sum and the broadcast share vector each measured within noise of their alternatives - those A/Bs, and the shuffle-join rank form to rebuild if a share vector outgrows executor memory, are in the OPTIMIZATION_r16.md appendix; levels aggregate inside the id-partitioned adjacency cut and shuffle nothing, plan-gated in PLANS.md) ",
    "q_label_propagation": "(same edge-gen profile as q_pagerank on the co-order graph; iteration shuffles are the reduced label histogram, winner via partial-agg max_by) ",
    "q_incremental_label_propagation": "(delta-edge restart, integer twin of q_incremental_pagerank: stored per-iteration labels, seeds re-take min-neighbor, their 1-hop ball re-votes the mode; oracle = full rebuild) ",
    "q_item_cosine": "(linear pair volume: disjoint-key replicas keep basket sizes constant so C(b,2) pairs grow exactly x10 and saturate the fan-out stage; basket cap 64 bounds the quadratic term on pathological baskets) ",
    "q_pricing_summary": "(interleaved in-process A/B measures 1.1x; plan is scan+partial-agg with pushdown - prior 2.9x was host CPU-steal noise) ",
    "q_logreg_grad": "(interleaved A/B 1.2x; dim-keyed allreduce is O(d)-flat - prior 2.9x was host noise) ",
    "q_decontaminate": "(in-row array_distinct shingle dedup replaced the post-explode corpus-wide distinct shuffle; held-out shingle broadcast is fixed-size) ",
    "q_user_sequences": "(pinned grouped-map fan-out: per-group Python work now runs on all 32 cores at BOTH scales, so the ratio is honest linear Python cost on fixed cores - absolute x10 wall improved 3.5s->2.4s vs the unpinned form whose 1.0x ratio just meant both sides underused cores) ",
    "q_pareto_frontier": "(two-level prefix max: within-bucket running max partitions by price bucket [plan-gated hashpartitioning(bkt]; only the ~75-row bucket carry crosses one partition, runtime-gated <=256 rows; sub-second outliers in earlier probes were host noise - interleaved A/B reads 1.0x) ",
    "q_scd2_history": "(sub-second query: batch-probe 2.5x was host noise, interleaved A/B reads 1.0x) ",
    "q_bm25": "(single-scan rewrite: doclen + per-term tfs from ONE groupBy(doc_id) with conditional counts + stack unpivot; the lazy tf/df/dl branch form re-ran the scan+explode up to 4x) ",
    "q_concurrency": "(explode-of-array boundary points: one event scan per consumer instead of a 2-scan union) ",
    "q_triangle_count": "(degree-ordered orientation: wedge work bounded O(E^1.5) under hub skew; slightly pricier edge prep at uniform degree) ",
    "q_hard_negatives": "(LSH band prefilter replaced the per-anchor-batch BNLJ corpus rescan: anchor band signatures broadcast, only same-bucket vectors cosine-scored; measured recall vs exact BNLJ ground truth 0.775 at sf0.1) ",
    "q_bpe_merges": "(vocab-cap-bounded trainer: corpus tokenize+count is the only data-sized stage, iterations run on the capped word table - ratio ~1.0x by design) ",
    "q_sorted_neighborhood": "(output-bound per the rows column: replica ' replica{i}' suffixes leave 16-char probes identical across replicas, so qualifying neighbor pairs grow ~330x while input grows 10x; rank windows are bucket-partitioned with a two-level prefix sum for bases) ",
}

#: the growth probes: flag → (base scale, section, default query set)
GROWTH = {
    "--tail": (10, TAIL_MARKER, TAIL_DEFAULT),
    "--decade": (30, DECADE_MARKER, tuple(WORK_PROBE_TABLES)),
}


def write_section(
    marker: str, lines: list[str], subset=None, path: str = SCALING
) -> None:
    """Replace the section of ``path`` that starts at ``marker`` with
    ``lines``, or insert it before the first later ``SECTIONS`` entry
    present.  With ``subset``, an existing section keeps every line but
    its table rows for those names, which the rows of ``lines`` replace
    (a name without a row yet goes after the section's last row)."""
    doc = open(path).read() if os.path.exists(path) else ""
    at = {m: doc.index(m) for m in SECTIONS if m in doc}
    if marker in at:
        start = at[marker]
        end = min((p for p in at.values() if p > start), default=len(doc))
        if subset:
            lines = _merge_rows(
                doc[start:end].rstrip("\n").split("\n"), lines, subset
            )
    else:
        later = SECTIONS[SECTIONS.index(marker) + 1 :]
        start = end = min((at[m] for m in later if m in at), default=len(doc))
    head, tail = doc[:start], doc[end:]
    if head and not head.endswith("\n\n"):
        head = head.rstrip("\n") + "\n\n"
    with open(path, "w") as f:
        f.write(head + "\n".join(lines) + ("\n\n" if tail else "\n") + tail)
    print(f"'{marker}' written to {path}")


def _merge_rows(old: list[str], new: list[str], names) -> list[str]:
    out = list(old)
    for name in names:
        row = next(line for line in new if line.startswith(f"| {name} |"))
        hit = [i for i, line in enumerate(out) if line.startswith(f"| {name} |")]
        if hit:
            out[hit[0]] = row
        else:
            last = max(
                (i for i, line in enumerate(out) if line.startswith("|")),
                default=len(out) - 1,
            )
            out.insert(last + 1, row)
    return out


def _replicated(spark, table: str, k: int):
    """×k replica of one sf0.1 table with disjoint key spaces (the
    uniform-key construction shared by every probe mode)."""
    df = read_parquet_table(spark, BASE_SF, table)
    if table in ("nation", "region"):
        return df  # dimension lookups: keep identical
    reps = []
    for i in range(k):
        r = df
        for col, off in KEY_OFFSETS[table].items():
            if off:
                r = r.withColumn(col, F.col(col) + F.lit(i * off))
        if table == "documents":
            # vary text across replicas so near-dup structure
            # stays ~constant per replica instead of creating
            # k-cliques.  APPEND the marker: a prepended one
            # gave every doc in a replica the same leading 8
            # chars, collapsing all prefix-blocked queries
            # into one giant block — probe artifact, not a
            # property of the data distribution.  n_chars is
            # refreshed to keep the length(text) == n_chars
            # invariant the base data satisfies.
            r = r.withColumn(
                "text",
                F.concat(F.col("text"), F.lit(f" replica{i}")),
            ).withColumn("n_chars", F.length("text").cast("long"))
        reps.append(r)
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    return big


def build(spark, k: int, tables: tuple | None = None) -> str:
    subset = tuple(KEY_OFFSETS) if tables is None else tables
    # partial builds publish under their own suffix so a later FULL ×K
    # probe never claims a directory that holds only a table subset
    suffix = "" if tables is None else "_" + "-".join(sorted(subset))
    out = f"{SCALE_ROOT}/x{k}{suffix}"

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        for table in subset:
            _replicated(spark, table, k).write.mode("overwrite").parquet(
                f"{tmp}/{table}.parquet"
            )

    # atomic build-once publish (claim_staged): two concurrent probe /
    # bench processes must never overwrite each other mid-build
    claim_staged(out, _build)
    return out


def _scale_dir(spark, scale: int, tables: tuple | None = None) -> str:
    """A ×scale replica holding ``tables`` (every table when None): a
    published full build when it has them all, else a build of just
    those tables (a full ×100 build writes tens of millions of rows a
    one-table probe never scans)."""
    full = f"{SCALE_ROOT}/x{scale}"
    if tables is None or all(
        os.path.exists(f"{full}/{t}.parquet/_SUCCESS") for t in tables
    ):
        return build(spark, scale)
    return build(spark, scale, tables)


def run(spark, name, sf_dir: str, work: bool = False) -> tuple:
    """One ``bench.timed_run`` of a registry query (or of a ``(spark,
    sf_dir)`` builder) at ``sf_dir``.  With ``work``, the WORK_PROBES form
    adds a CollectMetrics count of the pre-cap rows to the same run.
    Returns (wall s, output rows, work rows | None)."""
    from pyspark.sql import Observation

    wobs = Observation() if work else None
    if work:
        build_df = lambda: WORK_PROBES[name](spark, sf_dir, wobs)  # noqa: E731
    else:
        fn = name if callable(name) else REGISTRY[name].spark_fn
        build_df = lambda: fn(spark, sf_dir)  # noqa: E731
    wall, rows, _ = timed_run(spark, build_df)
    return wall, rows, wobs.get["work_rows"] if work else None


def _measure(probe, name, sf_dir: str, work: bool = False) -> tuple:
    """Min of 2 runs at one scale, each in a job group of its own.  With
    ``work`` and a WORK_PROBES entry, the first run carries the pre-cap
    work count, so it costs no extra execution of the scored plan.
    Returns (min wall s, output rows, work rows | None, longest task ms
    of the min-wall run | None)."""
    runs = []
    for i in range(2):
        group = f"scale-probe-{uuid.uuid4().hex}"
        with probe.group(group):
            observed = work and i == 0 and name in WORK_PROBES
            runs.append((*run(probe.spark, name, sf_dir, observed), group))
    wall, _, _, group = min(runs, key=lambda r: r[0])
    return wall, runs[0][1], runs[0][2], _max_task_ms(probe, group)


def _max_task_ms(probe, group: str) -> float | None:
    """Longest completed task of a job group's stages, in ms, from the
    status store: the straggler gauge (a hot key shows up as one task
    holding its stage open after its siblings finish).  Skipped stages
    have no task summary."""
    drain(probe.spark)
    tracker = probe.sc.statusTracker()
    store = probe.sc._jsc.sc().statusStore()
    stages = {
        int(s)
        for job in tracker.getJobIdsForGroup(group)
        if (info := tracker.getJobInfo(job)) is not None
        for s in info.stageIds
    }
    top = probe.sc._gateway.new_array(probe.sc._jvm.double, 1)
    top[0] = 1.0  # the 100th percentile
    longest = 0.0
    for sid in stages:
        try:
            attempt = store.lastStageAttempt(sid).attemptId()
        except Py4JJavaError:  # evicted from the store
            continue
        q = store.taskSummary(sid, attempt, top)
        if q.isDefined():
            longest = max(longest, float(q.get().duration().apply(0)))
    return longest or None


def _ratio_table(probe, k: int, subset: list) -> None:
    """sf0.1 vs ×K wall and output rows for every PROBES query."""
    spark = probe.spark
    big_dir = build(spark, k)
    # warm both datasets' footers + codegen with one cheap query each
    run(spark, "q_pricing_summary", BASE_SF)
    run(spark, "q_pricing_summary", big_dir)
    lines = [
        "# SCALING — measured runtime growth on ×%d data" % k,
        "",
        f"`python tools/scale_probe.py {k}` replicates sf0.1 ×{k} with disjoint",
        "key spaces (≈6M lineitem rows) and compares per-query runtimes.",
        "ratio ≈ K ⇒ scan/shuffle-bound (healthy: more executors absorb it);",
        "ratio ≫ K ⇒ super-linear fan-out or state — a 100 TB red flag.",
        "Wall includes DataFrame construction (eager localCheckpoint",
        "materializations count — ADVICE r9); min of 2 per cell.",
        "",
        "| query | sf0.1 (s) | ×%d (s) | ratio (ideal ≈%d) | out rows sf0.1→×%d |" % (k, k, k),
        "|---|---|---|---|---|",
    ]
    for name in subset or PROBES:
        t_small, rows_small, _, _ = _measure(probe, name, BASE_SF)
        t_big, rows_big, _, _ = _measure(probe, name, big_dir)
        ratio = t_big / t_small if t_small > 0 else float("inf")
        rows_ratio = rows_big / rows_small if rows_small else float("inf")
        note = NOTES.get(name, "")
        lines.append(
            f"| {name} | {t_small:.2f} | {t_big:.2f} | {ratio:.1f}× {note}| "
            f"{rows_small}→{rows_big} ({rows_ratio:.1f}×) |"
        )
        print(lines[-1], flush=True)
    if subset:
        print("(subset run: SCALING.md not rewritten)")
        return
    write_section(RATIO_MARKER, lines)


def _growth_probe(probe, flag: str, k: int, subset: list) -> None:
    """`--tail` (×10 → ×K) and `--decade` (×30 → ×K): wall growth judged
    against output growth and, for emission-capped EXACT queries, pre-cap
    work growth.  For the output-bound queries a healthy cap means wall
    tracks max(output, work, data) growth; wall outgrowing all three
    flags a quadratic the cap only deferred."""
    base, marker, default = GROWTH[flag]
    names = subset or list(default)
    tables = (
        None
        if any(n not in WORK_PROBE_TABLES for n in names)
        else tuple(sorted({t for n in names for t in WORK_PROBE_TABLES[n]}))
    )
    small, big = (_scale_dir(probe.spark, s, tables) for s in (base, k))
    lines = [
        marker,
        "",
        f"`python tools/scale_probe.py {k} {flag}` — ×{base} vs ×{k} "
        f"(data grows {k / base:.1f}×; min of 2 per cell; work rows ride "
        "the first timed run's CollectMetrics, no extra pass).  Verdict "
        "rule: wall growth ≤ 1.25 × max(data, output, work) growth ⇒ the "
        "candidate caps bound the tail; above ⇒ the quadratic was "
        "deferred, not removed.  `work rows` (only for emission-capped "
        "EXACT queries, see WORK_PROBES) counts the pre-cap qualifying "
        "rows the algorithm must score to rank the cap's survivors — for "
        "those queries post-cap output understates intrinsic growth by "
        "construction.  Wall includes DataFrame construction (eager cut "
        "materializations count).",
        "",
        f"| query | ×{base} (s) | ×{k} (s) | wall ×{k}/×{base} | "
        f"out rows ×{base}→×{k} | work rows ×{base}→×{k} | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in names:
        lines.append(
            _growth_row(
                name,
                _measure(probe, name, small, work=True),
                _measure(probe, name, big, work=True),
                k / base,
            )
        )
        print(lines[-1], flush=True)
    write_section(marker, lines, subset)


def _growth_row(
    name: str, small: tuple, big: tuple, data_ratio: float
) -> str:
    t_s, n_s, w_s, _ = small
    t_b, n_b, w_b, _ = big
    wall = t_b / t_s if t_s > 0 else float("inf")
    out_ratio = n_b / n_s if n_s else float("inf")
    work_cell, work_ratio = "—", 0.0
    if w_s is not None:
        work_ratio = w_b / w_s if w_s else float("inf")
        work_cell = f"{w_s}→{w_b} ({work_ratio:.1f}×)"
    bound = 1.25 * max(data_ratio, out_ratio, work_ratio)
    verdict = (
        "caps hold: wall tracks output/work/data"
        if wall <= bound
        else "SUPER-LINEAR TAIL — cap deferred the quadratic"
    )
    return (
        f"| {name} | {t_s:.2f} | {t_b:.2f} | {wall:.1f}× | "
        f"{n_s}→{n_b} ({out_ratio:.1f}×) | {work_cell} | {verdict} |"
    )


#: registry queries probed under skew — the window / grouped-map / LSH /
#: graph paths whose 100 TB skew story was documented but never
#: measured (trajectory.py re-window note, text.py token sharding,
#: dedup.py LSH occupancy caps, graph hub degrees)
SKEW_PROBES = [
    "q_lag_enrich",
    "q_sessionize",
    "q_window_rank",
    "q_user_sequences",
    "q_tfidf",
    "q_minhash_lsh",
    "q_minhash_clusters",
    "q_incremental_minhash",
    "q_incremental_minhash_clusters",
    "q_ann_hyperplane_lsh",
    "q_incremental_embedding_neardup",
    "q_pagerank",
    "q_incremental_pagerank",
]

#: 1/HOT_DENOM of fact rows land on ONE hot key (≈25% — VERDICT r10's
#: prescribed severity: "25% of events on one user_id, 25% of tokens
#: on one term")
HOT_DENOM = 4

#: 1/HOT_DOC_DENOM of documents get IDENTICAL text → one LSH mega-
#: bucket per (seed, minhash); 5% of ×10 docs = 2,500 identical docs,
#: comfortably past the 1,024 occupancy cap so the cap path executes
HOT_DOC_DENOM = 20

#: the identical text hot documents share (~300 chars ≈ the corpus mean
#: n_chars, so per-doc shingle work stays representative)
HOT_DOC_TEXT = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua ut "
    "enim ad minim veniam quis nostrud exercitation ullamco laboris "
    "nisi ut aliquip ex ea commodo consequat duis aute irure dolor "
    "in reprehenderit in voluptate velit esse cillum dolore"
)


def _skew_remap(table: str, df):
    """Overlay hot keys on a uniform ×k replica.  Selection hashes the
    row's unique id (deterministic across runs); values land on key 1,
    which exists in every dimension key space, so joins stay total.

    - events: 25% of rows → user_id 1 (hot window partition, hot
      grouped-map group, hot join fact key)
    - orders: 25% of rows → o_custkey 1 (hot ranking-window partition)
    - lineitem: 25% of rows → l_suppkey 1 (hub node: co-supplies nearly
      every part, so the graph gets one massive-degree vertex)
    - documents: every 4th TOKEN of every doc becomes 'hottok' (25% of
      corpus tokens on one term), and 5% of docs get IDENTICAL text
      (one LSH bucket far past the occupancy cap)
    """
    hot = lambda *cols: F.pmod(F.hash(*cols), F.lit(HOT_DENOM)) == 0  # noqa: E731
    if table == "events":
        return df.withColumn(
            "user_id",
            F.when(hot("event_id"), F.lit(1)).otherwise(F.col("user_id")),
        )
    if table == "orders":
        return df.withColumn(
            "o_custkey",
            F.when(hot("o_orderkey"), F.lit(1)).otherwise(F.col("o_custkey")),
        )
    if table == "lineitem":
        return df.withColumn(
            "l_suppkey",
            F.when(
                hot("l_orderkey", "l_linenumber", "l_partkey"), F.lit(1)
            ).otherwise(F.col("l_suppkey")),
        )
    if table == "documents":
        ident = F.pmod(F.hash("doc_id"), F.lit(HOT_DOC_DENOM)) == 0
        hot_tok = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda x, i: F.when(i % 4 == 3, F.lit("hottok")).otherwise(x),
            ),
            " ",
        )
        return df.withColumn(
            "text", F.when(ident, F.lit(HOT_DOC_TEXT)).otherwise(hot_tok)
        ).withColumn("n_chars", F.length("text").cast("long"))
    if table == "embeddings":
        # 5% of vectors become IDENTICAL (constant 0.5 in every dim):
        # one (band, sig) bucket per band collects all of them — far
        # past the RHP occupancy cap 128 — exercising the cap and the
        # delta-probe bound of the embedding LSH family
        ident = F.pmod(F.hash("vec_id"), F.lit(HOT_DOC_DENOM)) == 0
        return df.withColumn(
            "embedding",
            F.when(
                ident,
                F.transform(
                    "embedding", lambda x: F.lit(0.5).cast("float")
                ),
            ).otherwise(F.col("embedding")),
        )
    return df


SKEW_TABLES = ("events", "orders", "lineitem", "documents", "embeddings")


def build_skew(spark, k: int) -> str:
    """×k replica with the hot-key overlay — same row counts and file
    layout as the uniform ×k build, only the key distribution differs,
    so wall-ratio deltas are attributable to skew alone."""
    # key the staged dir by the overlay table set: claim_staged reuses a
    # published dir as-is, so a SKEW_TABLES change must land elsewhere
    out = (
        f"{SCALE_ROOT}/x{k}_skew_"
        + "-".join(t[:2] for t in sorted(SKEW_TABLES))
    )

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        for table in SKEW_TABLES:
            _skew_remap(table, _replicated(spark, table, k)).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{table}.parquet")

    claim_staged(out, _build)
    return out


#: queries on the part co-order graph, which the main skew overlay never
#: touches (it skews l_suppkey — the SUPPLIER co-supply graph pagerank
#: reads).  These get their own hub: 25% of lineitems remapped to
#: l_partkey 1, so part 1 co-orders with essentially every other part —
#: the massive-degree vertex the degree-ordered-orientation docstrings
#: (graph.py orient_by_degree / q_triangle_count) claim to survive.
PART_HUB_PROBES = ("q_triangle_count", "q_label_propagation", "q_item_cosine")


def build_skew_part(spark, k: int) -> str:
    """×k lineitem-only replica with a PART hub (l_partkey 1).  Only
    lineitem is written — every PART_HUB_PROBES query reads nothing
    else — so the build costs one table, not four.  Selection hashes
    (l_orderkey, l_linenumber, l_suppkey): deterministic, and
    independent of the column being remapped."""
    out = f"{SCALE_ROOT}/x{k}_skewpart"

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        df = _replicated(spark, "lineitem", k).withColumn(
            "l_partkey",
            F.when(
                F.pmod(
                    F.hash("l_orderkey", "l_linenumber", "l_suppkey"),
                    F.lit(HOT_DENOM),
                )
                == 0,
                F.lit(1),
            ).otherwise(F.col("l_partkey")),
        )
        df.write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")

    claim_staged(out, _build)
    return out


def _wedge_count(edges) -> int:
    """Exact wedge work of the triangle join for one orientation:
    Σ_src C(outdeg, 2) — the number of (e1, e2) pairs the b==b2 join
    enumerates.  O(E) to compute, so the infeasible orientation can be
    adjudicated without running it."""
    row = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            F.sum(
                (F.col("d") * (F.col("d") - F.lit(1)) / F.lit(2)).cast("long")
            ).alias("w")
        )
        .first()
    )
    return int(row["w"] or 0)



def _unsalted_join(spark, sf_dir: str):
    """q_salted_join's semantics WITHOUT the salting rewrite — the
    form whose hot fact key lands 25% of the shuffle on one reducer.
    Probed with autoBroadcastJoinThreshold=-1 (at 100 TB the dim side
    is past broadcast size — that is the regime salting exists for);
    AQE skew-join is the built-in mitigation being measured."""
    ev = read_parquet_table(spark, sf_dir, "events")
    orders = read_parquet_table(spark, sf_dir, "orders")
    dim = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_custkey", "o_orderpriority")
        .distinct()
    )
    joined = ev.join(dim, ev.user_id == dim.o_custkey)
    return joined.groupBy("event_type", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_value"),
    )


def _skew_verdict(wall_ratio: float, out_ratio: float) -> str:
    # VERDICT r10 rule: skewed wall > 3× the uniform wall ⇒ hot-key
    # blow-up needing a fix; output-bound queries are judged against
    # their own output growth (the tail-probe convention)
    bound = max(3.0, 1.25 * max(out_ratio, 1.0))
    return (
        "handled"
        if wall_ratio <= bound
        else "HOT-KEY BLOW-UP — needs salting/re-window"
    )


#: below this max-task duration (skew side, min-wall run) the straggler
#: RATIO is noise, not a reduce-tail: a sub-5 s max task means every
#: stage is balanced and the ratio's denominator is a sub-second
#: uniform task — the r11/r12 q_incremental_minhash "2.8×" gauge that
#: needed a manual appeal each round (dedicated profiling showed
#: balanced stages, max 3.5 s tasks).  VERDICT r12 task #6 encodes the
#: adjudication into the verdict rule itself.
STRAGGLER_FLOOR_MS = 5000.0


def _skew_row(label, u, s) -> str:
    """One markdown row of the skew table from the uniform and skewed
    ``_measure`` results."""
    t_u, n_u, _, mt_u = u
    t_s, n_s, _, mt_s = s
    wall = t_s / t_u if t_u > 0 else float("inf")
    out_ratio = n_s / n_u if n_u else float("inf")
    mt_cell_u = f"{mt_u / 1000:.2f}" if mt_u else "—"
    mt_cell_s = f"{mt_s / 1000:.2f}" if mt_s else "—"
    if not (mt_u and mt_s):
        straggler = "—"
    elif mt_s < STRAGGLER_FLOOR_MS:
        straggler = "n/a (<5 s floor)"
    else:
        straggler = f"{mt_s / mt_u:.1f}×"
    return (
        f"| {label} | {t_u:.2f} | {t_s:.2f} | {wall:.1f}× | "
        f"{mt_cell_u} | {mt_cell_s} | {straggler} | "
        f"{n_u}→{n_s} ({out_ratio:.1f}×) | "
        f"{_skew_verdict(wall, out_ratio)} |"
    )


def _skew_probe(probe, k: int, subset: list) -> None:
    """`--skew`: same-scale A/B — uniform ×k keys vs 25%-hot keys — for
    the window/grouped-map/LSH/graph/join paths.  Reports wall and
    max-task-duration ratios.  A subset run re-measures only the named
    rows; the narrative, special rows and adjudication paragraphs of
    the section stay as they are."""
    spark = probe.spark
    uniform_dir = build(spark, k)
    skew_dir = build_skew(spark, k)
    # warm both datasets' footers + codegen
    run(spark, "q_pricing_summary", uniform_dir)
    lines = [
        SKEW_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --skew` — uniform ×{k} keys vs "
        f"the SAME data volume with hot keys: {100 // HOT_DENOM}% of "
        "events on one user_id, of orders on one o_custkey, of lineitems "
        f"on one l_suppkey, of corpus tokens on one term; "
        f"{100 // HOT_DOC_DENOM}% of documents share identical text (one "
        "LSH bucket past the 1,024 occupancy cap) and "
        f"{100 // HOT_DOC_DENOM}% of embeddings become one identical "
        "vector (one (band, sig) bucket per band past the RHP cap 128); "
        "[part-hub] cells use "
        f"a separate lineitem overlay with {100 // HOT_DENOM}% of rows "
        "on l_partkey 1 — a massive-degree vertex in the part co-order "
        "graph the main overlay never touches.  min of 2 per cell; "
        "max-task = longest completed task in the min-wall run (the "
        "status store's taskSummary) — the straggler gauge.  A straggler "
        "ratio whose skew-side max task is under 5 s reads "
        "`n/a (<5 s floor)`: balanced sub-5 s stages over a sub-second "
        "uniform denominator are noise, not a reduce-tail.  Verdict rule "
        "(VERDICT r10): skewed wall ≤ max(3× uniform wall, 1.25× output "
        "growth) ⇒ handled; above ⇒ the documented salting/re-window path "
        "must actually be wired in.  The FIRST run of this probe (r11) "
        "measured q_minhash_lsh at 7.0× wall / 11.8× straggler (one "
        "72 s task) and drove three fixes in `dedup.minhash_candidates`"
        " — hot-bucket chunking, xxhash64 verify arrays, width-pinned "
        "pair dedup; cells below are post-fix.",
        "",
        "| query | uniform (s) | skew (s) | wall ratio | max-task "
        "uniform (s) | max-task skew (s) | straggler ratio | out rows "
        "uniform→skew | verdict |",
        "|---|---|---|---|---|---|---|---|---|",
    ]

    def emit(label, name, skewed_dir):
        lines.append(
            _skew_row(
                label,
                _measure(probe, name, uniform_dir),
                _measure(probe, name, skewed_dir),
            )
        )
        print(lines[-1], flush=True)

    for name in subset or SKEW_PROBES:
        emit(name, name, skew_dir)
    if subset:
        write_section(SKEW_MARKER, lines, subset)
        return

    # salted-vs-unsalted A/B under the hot join key, broadcast disabled
    # (the 100 TB regime where the dim no longer broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        emit("q_salted_join [nobcast]", "q_salted_join", skew_dir)
        emit("unsalted join [nobcast]", _unsalted_join, skew_dir)
        # AQE skew-join evidence for the unsalted form on skewed keys
        df = _unsalted_join(spark, skew_dir)
        df.collect()
        aqe_skew = "skew=true" in df._jdf.queryExecution().toString()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )

    # PART-hub cells: the main overlay skews l_suppkey (supplier graph);
    # the part co-order graph q_triangle_count / q_label_propagation /
    # q_item_cosine read needs its own hub (l_partkey 1)
    part_dir = build_skew_part(spark, k)
    for name in PART_HUB_PROBES:
        emit(f"{name} [part-hub]", name, part_dir)

    lines += [
        "",
        "Unsalted-form AQE adjudication: executed plan "
        + (
            "contains `skew=true` — AQE skew-join split the hot "
            "partition at runtime (the built-in mitigation the salted "
            "rewrite complements for aggregation-side skew)."
            if aqe_skew
            else "does NOT contain `skew=true` — AQE left the join "
            "unsplit; the salted rewrite is the load-bearing "
            "mitigation here."
        ),
    ]

    # Degree-orientation adjudication: exact wedge work (Σ_src C(outdeg,
    # 2) — the (e1, e2) pair count the triangle join enumerates) for
    # both orientations on the part-hub edge list.  The id-oriented form
    # is run as a COUNT, never as the join: the hub is node 1, the id
    # minimum, so id order keeps all its edges outgoing and its wedge
    # count is C(deg_hub, 2) — infeasible to enumerate, which is the
    # point.
    li = read_parquet_table(spark, part_dir, "lineitem")
    half = graph._co_order_half_edges(li).localCheckpoint()
    w_id = _wedge_count(half)  # _co_order_half_edges emits src < dst by id
    w_deg = _wedge_count(graph.orient_by_degree(half))
    n_edges = half.count()
    lines += [
        "",
        "Degree-orientation adjudication on the part-hub edge list "
        f"({n_edges:,} co-order edges, hub = part 1): the wedge join "
        f"would enumerate **{w_id:,}** (e1, e2) pairs under id "
        f"orientation vs **{w_deg:,}** under the degree orientation "
        "q_triangle_count actually uses — "
        f"{(w_id / w_deg if w_deg else float('inf')):,.0f}× less work. "
        "Measured analytically as Σ_src C(outdeg, 2) on both oriented "
        "edge lists (O(E), no enumeration); the [part-hub] wall cell "
        "above is the degree-oriented form running on exactly this "
        "graph.",
    ]
    write_section(SKEW_MARKER, lines)


#: fixed-graph delta sweeps on the sparse weight-floor co-order graph
#: (does a patch kernel's per-ingest work scale with the DELTA rather
#: than the graph?): flag → (section, seed kernel returning the stored
#: state the patch kernel takes, patch kernel returning the frame the
#: ingest ends in, what the timed region covers)
DELTA_SWEEPS = {
    "--sparse-pr": (
        SPARSE_MARKER,
        lambda half: graph.pagerank_seed_levels(half)[::-1],
        lambda *a, **kw: graph.pagerank_patch_levels(*a, **kw)[0][-1],
        "the floor-crossing check against pair-weight segments pruned to "
        "the delta's buckets, and the 3-level blast-radius re-rank "
        "through partition-pruned scans of the src-bucketed stored "
        "adjacency with an incrementally-merged degree table",
    ),
    "--sparse-lpa": (
        SPARSE_LPA_MARKER,
        graph.lpa_seed_levels,
        lambda *a, **kw: graph.lpa_patch_levels(*a, **kw)[1],
        "the pruned floor-crossing check, and lpa_patch_levels' 1-hop "
        "re-vote through partition-pruned adjacency scans",
    ),
}


def _delta_sweep(probe, flag: str, k: int) -> None:
    """`--sparse-pr` / `--sparse-lpa`: hold the ×k part co-order graph
    (weight-floor ≥2, sparse by construction) fixed, sweep the delta
    share (l_orderkey % mod == 7 for mod = 10/100/1000), and time only
    the per-ingest patch against stored state built untimed through the
    same kernels.  The wall must track the delta."""
    import shutil

    marker, seed, patch, covers = DELTA_SWEEPS[flag]
    spark = probe.spark
    li = read_parquet_table(
        spark, _scale_dir(spark, k, ("lineitem",)), "lineitem"
    ).localCheckpoint()
    n_nodes = li.select("l_partkey").distinct().count()
    state_root = f"{SCALE_ROOT}/sparse_state"
    lines = [
        marker,
        "",
        f"`python tools/scale_probe.py {k} {flag}` — the ×{k} part "
        f"co-order graph ({n_nodes:,} nodes, weight-floor ≥2, sparse by "
        "construction) held FIXED while the ingest delta share sweeps "
        "10% → 0.1% (l_orderkey % mod == 7).  Timed region: the "
        f"per-ingest patch only — delta pair counts, {covers} — written "
        "to noop.  Stored state is built untimed through the same "
        "kernels; the wall must track the delta.",
        "",
        "| delta share | new edges | patched nodes | total nodes | "
        "patched frac | patch wall (s) |",
        "|---|---|---|---|---|---|",
    ]
    for mod in (10, 100, 1000):
        cond = F.col("l_orderkey") % mod == 7
        shutil.rmtree(state_root, ignore_errors=True)
        store, base_half = graph.co_order_state(li.filter(~cond), state_root)
        state = seed(base_half)
        delta_li = li.filter(cond).localCheckpoint()
        obs: dict = {}

        def ingest():
            dw = graph._co_order_pair_counts(delta_li).localCheckpoint()
            new_half = graph.co_order_new_edges(spark, store.dirs("weights"), dw)
            return patch(spark, store.dirs("adj"), *state, new_half, obs=obs)

        wall = timed_run(spark, ingest)[0]
        lines.append(
            f"| 1/{mod} | {obs['n_new_edges']:,} | {obs['n_patched']:,} "
            f"| {n_nodes:,} | {obs['n_patched'] / max(n_nodes, 1):.3f} "
            f"| {wall:.2f} |"
        )
        print(lines[-1], flush=True)
    shutil.rmtree(state_root, ignore_errors=True)
    write_section(marker, lines)


def _lsh_ingest_probe(probe, k: int) -> None:
    """`--lsh-ingest`: what does ONE delta ingest cost against existing
    stored state?  The registered q_incremental_minhash_clusters builds
    its pre-ingest state inside the timed cell; here the state seeds
    untimed from the base corpus (doc_id % 10 != 7) and only one
    lsh_maintenance_step over the delta (doc_id % 10 == 7) plus the
    member reattachment is timed, at ×30 and ×K, min of 2 against the
    same seeded state (the kernel derives new state, never mutates the
    old).  Maintenance earns its keep only below the decade cell's
    rebuild wall."""
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    spark = probe.spark
    lines = [
        LSH_INGEST_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --lsh-ingest` — stored "
        "pre-ingest state (digests, group texts, capped index + spill, "
        "labels) seeded UNTIMED from the base "
        "corpus (doc_id % 10 != 7) via lsh_seed_state; timed region is "
        "ONE lsh_maintenance_step over the delta (doc_id % 10 == 7) "
        "plus member reattachment — the per-ingest cost the registered "
        "decade cell conflates with state construction.  min of 2 per "
        "cell against the same seeded state; pairs = the ingest's own "
        "scored-pair CollectMetrics gauge.  Compare the ingest wall to "
        "q_minhash_clusters' decade-cell rebuild wall at the same "
        "scale: maintenance only earns its keep below it.",
        "",
        "| scale | docs | delta docs | seed (s, untimed) | "
        "ingest wall (s) | ingest pairs scored | out rows |",
        "|---|---|---|---|---|---|---|",
    ]
    for scale in (30, k):
        docs = read_parquet_table(
            spark, _scale_dir(spark, scale, ("documents",)), "documents"
        )
        is_delta = F.col("doc_id") % 10 == 7
        n_docs = docs.count()
        corpus = docs.select(
            "doc_id", dedup.fingerprint_col().alias("fp"), "text"
        )
        delta = corpus.filter(is_delta).localCheckpoint()
        n_delta = delta.count()
        # labels are materialized so the timed step reads state, never
        # re-derives it
        t0 = time.time()
        d0, g0, i0, s0, l0 = dedup.lsh_seed_state(docs.filter(~is_delta))
        i0, s0, l0 = (df.localCheckpoint() for df in (i0, s0, l0))
        t_seed = time.time() - t0

        def ingest(obs: dict):
            d2, g2, _i2, _s2, l2, _ = dedup.lsh_maintenance_step(
                d0, g0, i0, s0, l0, delta, obs
            )
            return dedup._reattach(d2, g2, l2)

        runs = []
        for _ in range(2):
            obs: dict = {}
            wall, rows, _ = timed_run(spark, lambda: ingest(obs))
            runs.append((wall, obs.get("n_pairs_scored", 0), rows))
        wall, pairs, rows = min(runs, key=lambda r: r[0])
        lines.append(
            f"| ×{scale} | {n_docs:,} | {n_delta:,} | {t_seed:.1f} "
            f"| {wall:.2f} | {pairs:,} | {rows:,} |"
        )
        print(lines[-1], flush=True)
    write_section(LSH_INGEST_MARKER, lines)


def _cross_round_rows() -> list[str]:
    """Mechanical cross-round paragraph (VERDICT r13 task #6 second
    half / r14 task #5 — the hand-written paragraph went stale the
    round after it was written): read the BENCH_r*.json driver records,
    normalize each round's Σ(min) by its fixed-work SPARK all-cores
    canary (r16 — see the inline comment; python canary is the
    pre-r15 fallback) against the pinned reference, and compare the
    two newest rounds on the one host-comparable number."""
    import glob
    import json
    import re

    recs = []
    # BENCH_r<N>.json ONLY — suffixed control runs (e.g. BENCH_r15_c8,
    # the driver's low-core-count control) are not round records and
    # made the paragraph compare r15 against itself (r16 fix)
    paths = [
        p
        for p in glob.glob(os.path.join(ROOT, "BENCH_r*.json"))
        if re.search(r"BENCH_r(\d+)\.json$", p)
    ]
    for p in sorted(
        paths,
        key=lambda p: int(re.search(r"BENCH_r(\d+)\.json$", p).group(1)),
    ):
        try:
            d = json.load(open(p)).get("parsed") or {}
            n = int(re.search(r"BENCH_r(\d+)\.json$", p).group(1))
        except Exception:
            continue
        if d.get("value") and d.get("canary", {}).get("python_1core_sec"):
            recs.append((n, d))
    if len(recs) < 2:
        return []
    ref = next(
        (
            d["canary_ref"]
            for _, d in reversed(recs)
            if d.get("canary_ref")
        ),
        recs[-1][1]["canary"]["python_1core_sec"],
    )
    # r16 (VERDICT r15 "what's wrong" #4): normalize by the SPARK
    # all-cores canary, not the python 1-core one — in r15 the two
    # decoupled (python said the host got 32% faster while spark said
    # 25% slower under CPU steal), and the suite is multicore work, so
    # the python-normalized number pointed the wrong way.  Python
    # canary stays as the fallback for records predating the spark one.
    ref_spark = REF_SPARK_CANARY

    def norm(d: dict) -> tuple:
        sc = d.get("canary", {}).get("spark_allcores_sec")
        if sc:
            return d["value"] * ref_spark / sc, "spark"
        if d.get("value_canary_norm"):
            return d["value_canary_norm"], "python"
        return d["value"] * ref / d["canary"]["python_1core_sec"], "python"

    (na, a), (nb, b) = recs[-2], recs[-1]
    nb_v, nb_c = norm(b)
    na_v, na_c = norm(a)
    return [
        "",
        f"Cross-round (mechanical, canary-normalized): r{nb} Σ(min) "
        f"normalizes to **{nb_v:.2f} s** ({nb_c} canary) vs r{na} "
        f"**{na_v:.2f} s** ({na_c} canary) ({nb_v / na_v:.3f}×) over "
        f"{b['n_queries']} headline queries — each round's driver "
        f"Σ(min) × (reference spark-allcores canary {ref_spark:.3f} s "
        "/ that round's measured spark canary): the multicore-work "
        "deflator (VERDICT r15 #4 — the 1-core python canary decoupled "
        "from multicore host speed in r15 and mis-normalized the "
        "suite total).  Raw driver records: "
        f"r{nb} {b['value']:.2f} s @ spark canary "
        f"{b['canary'].get('spark_allcores_sec', float('nan')):.3f} s, "
        f"r{na} {a['value']:.2f} s @ "
        f"{a['canary'].get('spark_allcores_sec', float('nan')):.3f} s.",
    ]


def _ab_probe(probe, subset: list) -> None:
    """`--ab`: bench.py's loop over the headline suite (or a subset) in
    this process, rendered as the interleaved A/B appendix.  Σ(min)
    over the full suite is the quiet-host estimate bench.py's final
    line reports as ``value``."""
    spark = probe.spark
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", BASE_SF)
    names = subset or list(HEADLINE)
    canary = host_canary(spark)
    t_wall0 = time.time()
    times = {n: r["samples"] for n, r in measure(spark, names, sf_dir).items()}
    wall = time.time() - t_wall0

    from datetime import datetime, timezone

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%MZ")
    rows = [
        AB_MARKER,
        "",
        f"`python tools/scale_probe.py --ab` @ {sf_dir}, {stamp} — "
        f"{len(names)} queries through bench.py's loop in one process: a "
        "batch pass (a second sample for a query over 1 s), then "
        "$SPARK_GRAFT_BENCH_SWEEPS round-robin sweeps "
        f"(wall {wall:.0f}s incl. warm-up).  min = quiet-host estimate "
        "(bench.py's `queries`); spread = max/min across samples, the "
        "first of which is the query's first run in the process, so "
        "spread counts its warm-up as well as host noise.  Host-speed "
        "canary (fixed work, "
        f"min of 3): python 1-core {canary['python_1core_sec']:.2f}s, "
        f"spark all-cores {canary['spark_allcores_sec']:.2f}s — divide "
        "Σ(min) deltas across rounds by the canary ratio before reading "
        "them as regressions.",
        *_cross_round_rows(),
        "",
        "| query | min (s) | median (s) | spread | reps (s) |",
        "|---|---|---|---|---|",
    ]
    total_min = 0.0
    for name in names:
        ts = sorted(times[name])
        total_min += ts[0]
        med = ts[len(ts) // 2]
        spread = ts[-1] / ts[0] if ts[0] > 0 else float("inf")
        rows.append(
            f"| {name} | {ts[0]:.2f} | {med:.2f} | {spread:.1f}× | "
            f"{'/'.join(f'{t:.2f}' for t in times[name])} |"
        )
        print(rows[-1], flush=True)
    rows.append(
        f"| **Σ(min) over {len(names)} queries** | **{total_min:.2f}** "
        "| | | |"
    )
    print(f"TOTAL(min): {total_min:.2f}s over {len(names)} queries")
    if subset:
        print("(subset run: SCALING.md not rewritten)")
        return
    write_section(AB_MARKER, rows)


MODES = ("--ab", "--lsh-ingest", "--skew", *GROWTH, *DELTA_SWEEPS)


def main() -> None:
    argv = sys.argv[1:]
    flags = [a for a in argv if a.startswith("--")]
    args = [a for a in argv if not a.startswith("--")]
    if len(flags) > 1 or any(f not in MODES for f in flags):
        raise SystemExit(__doc__)
    mode = flags[0] if flags else None
    if args and args[0].isdigit():
        k, subset = int(args[0]), args[1:]
    else:
        k, subset = (100 if mode in ("--decade", "--lsh-ingest") else 10), args
    _load()
    probe = spark_probe(get_spark("scale-probe"))
    if mode == "--ab":
        _ab_probe(probe, subset)
    elif mode == "--lsh-ingest":
        _lsh_ingest_probe(probe, k)
    elif mode == "--skew":
        _skew_probe(probe, k, subset)
    elif mode in GROWTH:
        _growth_probe(probe, mode, k, subset)
    elif mode in DELTA_SWEEPS:
        _delta_sweep(probe, mode, k)
    else:
        _ratio_table(probe, k, subset)


if __name__ == "__main__":
    main()
