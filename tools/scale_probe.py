"""Scale probe: replicate the sf0.1 tables ×K (disjoint key spaces, same
distributions) into /tmp, run representative queries at both scales, and
record the runtime ratios in SCALING.md.

A plan whose runtime grows ≈K× on K× data is shuffle/scan bound (healthy —
it will ride more executors); super-linear growth flags an operator whose
fan-out or state grows with data size (the thing that kills 100 TB runs).

    python tools/scale_probe.py [K]
"""

from __future__ import annotations

import os
import sys
import time

#: the checkout this script lives in (tools/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from end_to_end_datapipeline_project_spark.registry import REGISTRY, _load  # noqa: E402
from end_to_end_datapipeline_project_spark.session import get_spark  # noqa: E402
from end_to_end_datapipeline_project_spark.sources import read_parquet_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"

#: section header owned by tools/ab_bench.py; scale_probe preserves
#: everything from this line onward when it rewrites SCALING.md
AB_MARKER = "## Interleaved A/B adjudication"

#: section owned by `scale_probe.py K --tail q...`: does cap-bounded
#: growth FLATTEN one decade past x10, or was the quadratic only
#: deferred?  Sits between the ratio table and the A/B appendix; full
#: probe runs preserve it (ab_bench owns everything after AB_MARKER).
TAIL_MARKER = "## Output-bound tail probe"

#: default `--tail` subset: the four output-bound dedup queries whose
#: caps the tail probe exists to audit
TAIL_DEFAULT = (
    "q_fuzzy_match",
    "q_minhash_lsh",
    "q_prefix_filter_join",
    "q_sorted_neighborhood",
)


#: section owned by `scale_probe.py K --decade`: the work-probe queries
#: one decade past the ×30 tail cell.  Sits between the tail table and
#: the A/B appendix; tail runs preserve it.
DECADE_MARKER = "## Decade cell (work-probe tail, tool-generated)"


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
    from end_to_end_datapipeline_project_spark.sources import claim_staged

    subset = tuple(KEY_OFFSETS) if tables is None else tables
    # partial builds publish under their own suffix so a later FULL ×K
    # probe never claims a directory that holds only a table subset
    suffix = "" if tables is None else "_" + "-".join(sorted(subset))
    out = f"/tmp/spark_graft_scale_{os.getuid()}/x{k}{suffix}"

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


def _tail_probe(spark, run, k: int, big_dir: str, names: list) -> None:
    """One decade past the standard probe: time each query at ×10 AND
    ×K (default 30) and compare WALL growth to OUTPUT growth over the
    ×10→×K step.  For the output-bound queries (candidate pairs grow
    with replica k-cliques), a healthy cap means wall tracks
    max(output, data) growth; wall outgrowing both flags a quadratic
    that the cap only deferred.  Rewrites the TAIL_MARKER section of
    SCALING.md, preserving the ratio table before it and the A/B
    appendix after it."""
    x10_dir = build(spark, 10)
    run("q_pricing_summary", x10_dir)
    run("q_pricing_summary", big_dir)
    rows_out = [
        TAIL_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --tail ...` — ×10 vs ×{k} "
        f"(data grows {k / 10:.0f}×; min of 2 per cell).  Verdict rule: "
        "wall growth ≤ 1.25 × max(data growth, output growth, work "
        "growth) ⇒ the candidate caps bound the tail; above that ⇒ the "
        "quadratic was deferred, not removed.  `work rows` (only for "
        "emission-capped EXACT queries, see WORK_PROBES) counts the "
        "pre-cap qualifying rows the algorithm must score to rank the "
        "cap's survivors — for those queries post-cap output "
        "understates intrinsic growth by construction.  Wall includes "
        "DataFrame CONSTRUCTION (eager localCheckpoint materializations "
        "count — ADVICE r9), so cells are not comparable to pre-r10 "
        "tables.",
        "",
        f"| query | ×10 (s) | ×{k} (s) | wall ×{k}/×10 | "
        f"out rows ×10→×{k} | work rows ×10→×{k} | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    data_ratio = k / 10
    for name in names:
        r10 = _measure(run, name, x10_dir)
        rk = _measure(run, name, big_dir)
        rows_out.append(_growth_row(name, r10, rk, data_ratio))
        print(rows_out[-1], flush=True)
    path = os.path.join(ROOT, "SCALING.md")
    doc = open(path).read()
    appendix = ""
    # the decade section (this tool's --decade mode) and the A/B
    # appendix (tools/ab_bench.py) both live after the tail table —
    # preserve whichever comes first
    for m in (DECADE_MARKER, SKEW_MARKER, AB_MARKER):
        if m in doc:
            appendix = doc[doc.index(m) :]
            doc = doc[: doc.index(m)]
            break
    if TAIL_MARKER in doc:
        doc = doc[: doc.index(TAIL_MARKER)]
    with open(path, "w") as f:
        f.write(
            doc.rstrip()
            + "\n\n"
            + "\n".join(rows_out)
            + "\n\n"
            + appendix
        )
    print(f"tail section written to {path}")


def _measure(run, name: str, sf_dir: str) -> tuple:
    """min-of-2 timing at one scale; for WORK_PROBES queries the FIRST
    run carries the pre-cap work CollectMetrics, so the intrinsic-work
    count costs no extra execution of the scored plan (ADVICE r8).
    Returns (t_min, out_rows, work_rows|None)."""
    observed = name in WORK_PROBES
    first = run(name, sf_dir, observed=observed)
    second = run(name, sf_dir)
    return min(first[0], second[0]), first[1], first[2]


def _growth_row(
    name: str, small: tuple, big: tuple, data_ratio: float
) -> str:
    t_s, n_s, w_s = small
    t_b, n_b, w_b = big
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


def _decade_probe(spark, run, k: int, subset: list | None = None) -> None:
    """`--decade`: one decade past the ×30 tail cell for the
    super-linear-suspect queries (default: every WORK_PROBE_TABLES
    entry) — ×30 vs ×K wall growth judged against output and, for
    emission-capped EXACT queries, pre-cap work growth, so the ×100
    claims in SCALING.md are regenerable in one command instead of
    hand-built one-offs (VERDICT r8 task #4; r10 task #5 extended the
    set with the edge-gen/pair-volume families).  Replicates only the
    tables the subset reads (a full ×100 build would write tens of
    millions of rows the subset never scans).  Rewrites matching rows
    of the DECADE_MARKER section (a subset run updates its own rows
    and keeps the others), preserving the ratio/tail tables before it
    and the A/B appendix after it."""
    base = 30  # the tail probe's top scale — the decade is ×30 → ×K
    names = [n for n in (subset or list(WORK_PROBE_TABLES))]
    unknown = [n for n in names if n not in WORK_PROBE_TABLES]
    if unknown:
        raise SystemExit(
            f"--decade needs a WORK_PROBE_TABLES entry for {unknown}"
        )
    tables = tuple(
        sorted({t for n in names for t in WORK_PROBE_TABLES[n]})
    )

    def _dir_for(scale: int) -> str:
        # a FULL ×scale replica published by an earlier probe run is a
        # superset of the subset build — reuse it only when it actually
        # carries every table this subset scans
        full = f"/tmp/spark_graft_scale_{os.getuid()}/x{scale}"
        if all(
            os.path.exists(f"{full}/{t}.parquet/_SUCCESS") for t in tables
        ):
            return full
        return build(spark, scale, tables)

    base_dir = _dir_for(base)
    big_dir = _dir_for(k)
    data_ratio = k / base
    rows_out = [
        DECADE_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --decade` — ×{base} vs ×{k} "
        f"(data grows {data_ratio:.1f}×; min of 2 per cell; work rows "
        "ride the first timed run's CollectMetrics, no extra pass).  "
        "Same verdict rule as the tail probe: wall growth ≤ 1.25 × "
        "max(data, output, work) growth ⇒ the caps bound a SECOND "
        "decade; above ⇒ the quadratic was deferred, not removed.  "
        "Wall includes DataFrame construction (eager localCheckpoint "
        "materializations count — ADVICE r9).",
        "",
        f"| query | ×{base} (s) | ×{k} (s) | wall ×{k}/×{base} | "
        f"out rows ×{base}→×{k} | work rows ×{base}→×{k} | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    fresh = {}
    for name in names:
        r_base = _measure(run, name, base_dir)
        r_big = _measure(run, name, big_dir)
        fresh[name] = _growth_row(name, r_base, r_big, data_ratio)
        print(fresh[name], flush=True)
    path = os.path.join(ROOT, "SCALING.md")
    doc = open(path).read()
    appendix = ""
    for m in (LSH_INGEST_MARKER, SKEW_MARKER, AB_MARKER):
        if m in doc:
            appendix = doc[doc.index(m) :]
            doc = doc[: doc.index(m)]
            break
    # keep rows from a previous decade run for queries outside this
    # subset (a q_pagerank-only re-probe must not drop the
    # prefix-filter-join ×100 cell)
    kept = {}
    if DECADE_MARKER in doc:
        old = doc[doc.index(DECADE_MARKER) :]
        doc = doc[: doc.index(DECADE_MARKER)]
        for line in old.splitlines():
            if line.startswith("| q_"):
                kept[line.split("|")[1].strip()] = line
    for name in WORK_PROBE_TABLES:
        if name in fresh:
            rows_out.append(fresh[name])
        elif name in kept:
            rows_out.append(kept[name])
    with open(path, "w") as f:
        f.write(
            doc.rstrip()
            + "\n\n"
            + "\n".join(rows_out)
            + "\n\n"
            + appendix
        )
    print(f"decade section written to {path}")


# --- skewed-key probe (VERDICT r10 task #1) --------------------------------

#: section owned by `scale_probe.py K --skew`: hot-key (Zipfian-ish)
#: resilience of the window/join/LSH paths.  Sits between the decade
#: cell and the A/B appendix.
SKEW_MARKER = "## Skewed-key probe (hot keys, tool-generated)"

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
    from end_to_end_datapipeline_project_spark.sources import claim_staged

    # key the staged dir by the overlay table set: claim_staged reuses a
    # published dir as-is, so a SKEW_TABLES change must land elsewhere
    out = (
        f"/tmp/spark_graft_scale_{os.getuid()}/x{k}_skew_"
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
    from end_to_end_datapipeline_project_spark.sources import claim_staged

    out = f"/tmp/spark_graft_scale_{os.getuid()}/x{k}_skewpart"

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


class _TaskWatch:
    """Max completed-task duration between mark() and max_task_ms(),
    via the Spark UI REST API on the probe's own local session (the
    straggler gauge: a hot key shows up as one task holding the stage
    open long after its 31 siblings finish)."""

    def __init__(self, spark):
        self._base = (
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}"
        )
        self._last = -1

    def _get(self, path: str):
        import json
        import urllib.request

        with urllib.request.urlopen(self._base + path, timeout=15) as r:
            return json.load(r)

    def mark(self) -> None:
        try:
            self._last = max(
                (s["stageId"] for s in self._get("/stages")), default=-1
            )
        except Exception:
            self._last = -1

    def max_task_ms(self) -> float | None:
        try:
            stages = self._get("/stages?status=complete")
        except Exception:
            return None
        mx = 0.0
        for s in stages:
            if s["stageId"] <= self._last:
                continue
            try:
                q = self._get(
                    f"/stages/{s['stageId']}/{s['attemptId']}"
                    "/taskSummary?quantiles=1.0"
                )
                mx = max(mx, float(q["duration"][0]))
            except Exception:
                pass  # skipped / zero-task stages 404 their summary
        return mx or None


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
    """One markdown row of the skew table from (wall, rows, max_task_ms)
    uniform/skew measurements — shared by the full rewrite and the
    kept-row subset update."""
    t_u, n_u, mt_u = u
    t_s, n_s, mt_s = s
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


def _skew_probe(spark, run, k: int, subset: list | None = None) -> None:
    """`--skew`: same-scale A/B — uniform ×k keys vs 25%-hot keys —
    for the window/grouped-map/LSH/graph/join paths.  Reports wall and
    max-task-duration ratios; rewrites the SKEW_MARKER section of
    SCALING.md (preserving the tables before it and the A/B appendix
    after it).  With a SUBSET, re-measures only the named rows and
    splices them into the existing section in place (the decade probe's
    kept-row convention) — narrative, special rows, and adjudication
    paragraphs stay byte-identical."""
    # validate the subset BEFORE the expensive dataset builds (ADVICE
    # r12): a renamed query or reformatted table row used to SystemExit
    # only after the uniform/skew replicas were already written
    if subset:
        doc0 = open(os.path.join(ROOT, "SCALING.md")).read()
        if SKEW_MARKER not in doc0:
            raise SystemExit(
                "no skew section in SCALING.md — run the full --skew "
                "probe first"
            )
        sect0 = doc0[doc0.index(SKEW_MARKER):]
        missing = [
            n for n in subset
            if not any(
                line.startswith(f"| {n} |") for line in sect0.splitlines()
            )
        ]
        if missing:
            raise SystemExit(
                f"no existing skew row for {missing} — run the full "
                "--skew probe to add new rows"
            )

    uniform_dir = build(spark, k)
    skew_dir = build_skew(spark, k)
    watch = _TaskWatch(spark)

    def measure(name, sf_dir) -> tuple:
        best = None  # (wall, rows, max_task_ms) from the min-wall run
        for _ in range(2):
            watch.mark()
            t, rows, _ = run(name, sf_dir)
            mt = watch.max_task_ms()
            if best is None or t < best[0]:
                best = (t, rows, mt)
        return best

    # warm both datasets' footers + codegen
    run("q_pricing_summary", uniform_dir)

    if subset:
        path = os.path.join(ROOT, "SCALING.md")
        doc = open(path).read()
        # scope the in-place replacement to the skew SECTION: the same
        # query has rows in the ×10/decade tables too, and a whole-doc
        # first-match replace clobbers those (observed: the ×10 row)
        start = doc.index(SKEW_MARKER)
        end = doc.index(AB_MARKER) if AB_MARKER in doc else len(doc)
        head, sect, tail = doc[:start], doc[start:end], doc[end:]
        for name in subset:
            row = _skew_row(
                name, measure(name, uniform_dir), measure(name, skew_dir)
            )
            print(row, flush=True)
            lines = sect.splitlines()
            for i, line in enumerate(lines):
                if line.startswith(f"| {name} |"):
                    lines[i] = row
                    break
            else:
                raise SystemExit(
                    f"no existing skew row for {name!r} — run the full "
                    "--skew probe to add new rows"
                )
            sect = "\n".join(lines) + ("\n" if sect.endswith("\n") else "")
        with open(path, "w") as f:
            f.write(head + sect + tail)
        print(f"skew rows {subset} updated in {path}")
        return

    rows_out = [
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
        "max-task = longest completed task in the min-wall run (UI REST "
        "taskSummary) — the straggler gauge.  A straggler ratio whose "
        "skew-side max task is under 5 s reads `n/a (<5 s floor)`: "
        "balanced sub-5 s stages over a sub-second uniform denominator "
        "are noise, not a reduce-tail (the r11/r12 "
        "q_incremental_minhash adjudication, now encoded — VERDICT r12 "
        "task #6).  Verdict rule (VERDICT "
        "r10): skewed wall ≤ max(3× uniform wall, 1.25× output growth) "
        "⇒ handled; above ⇒ the documented salting/re-window path must "
        "actually be wired in.  The FIRST run of this probe (r11) "
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

    def emit(label, u, s):
        rows_out.append(_skew_row(label, u, s))
        print(rows_out[-1], flush=True)

    for name in SKEW_PROBES:
        emit(name, measure(name, uniform_dir), measure(name, skew_dir))

    # salted-vs-unsalted A/B under the hot join key, broadcast disabled
    # (the 100 TB regime where the dim no longer broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        emit(
            "q_salted_join [nobcast]",
            measure("q_salted_join", uniform_dir),
            measure("q_salted_join", skew_dir),
        )
        emit(
            "unsalted join [nobcast]",
            measure(_unsalted_join, uniform_dir),
            measure(_unsalted_join, skew_dir),
        )
        # AQE skew-join evidence for the unsalted form on skewed keys
        df = _unsalted_join(spark, skew_dir)
        df.collect()
        plan = df._jdf.queryExecution().toString()
        aqe_skew = "skew=true" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )

    # PART-hub cells: the main overlay skews l_suppkey (supplier graph);
    # the part co-order graph q_triangle_count / q_label_propagation /
    # q_item_cosine read needs its own hub (l_partkey 1)
    part_dir = build_skew_part(spark, k)
    for name in PART_HUB_PROBES:
        emit(
            f"{name} [part-hub]",
            measure(name, uniform_dir),
            measure(name, part_dir),
        )

    rows_out += [
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
    from end_to_end_datapipeline_project_spark.graph import (
        _co_order_half_edges,
        orient_by_degree,
    )

    li = read_parquet_table(spark, part_dir, "lineitem")
    half = _co_order_half_edges(li).localCheckpoint()
    w_id = _wedge_count(half)  # _co_order_half_edges emits src < dst by id
    w_deg = _wedge_count(orient_by_degree(half))
    n_edges = half.count()
    rows_out += [
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

    path = os.path.join(ROOT, "SCALING.md")
    doc = open(path).read()
    appendix = ""
    # the sparse-pr section (--sparse-pr) sits between this section and
    # the A/B appendix — preserve whichever comes first
    for m in (SPARSE_MARKER, AB_MARKER):
        if m in doc:
            appendix = doc[doc.index(m) :]
            doc = doc[: doc.index(m)]
            break
    if SKEW_MARKER in doc:
        doc = doc[: doc.index(SKEW_MARKER)]
    with open(path, "w") as f:
        f.write(doc.rstrip() + "\n\n" + "\n".join(rows_out) + "\n\n" + appendix)
    print(f"skew section written to {path}")


#: section owned by `scale_probe.py K --sparse-pr` (VERDICT r12 task
#: #7): on the SPARSE weight-floor co-order graph, does incremental
#: PageRank's per-ingest work actually scale with the DELTA (patched
#: nodes, wall) rather than the graph?  The dense co-supply probe cell
#: can't show this — its 3-hop ball saturates (SCALING.md's honest
#: caveat).  Sits after the skew section, before the A/B appendix.
SPARSE_MARKER = (
    "## Sparse-graph delta-scaling probe (incremental PageRank, "
    "tool-generated)"
)

#: section owned by `scale_probe.py K --sparse-lpa` (VERDICT r13
#: stretch #7): the same fixed-graph delta sweep on the LPA patch
#: kernel, whose re-vote join prunes differently.  Sits after the
#: sparse-pr section, before the A/B appendix.
SPARSE_LPA_MARKER = (
    "## Sparse-graph delta-scaling probe (incremental LPA, "
    "tool-generated)"
)


def _sparse_pr_probe(spark, k: int) -> None:
    """`--sparse-pr`: fix the graph (×k part co-order, weight-floor ≥2,
    sparse by construction), sweep the DELTA SHARE (l_orderkey % mod ==
    7 for mod = 10/100/1000), and time ONLY the per-ingest patch phase
    against stored state built untimed through the same kernels.

    r14 contract (VERDICT r13 task #1): the timed region is the honest
    production ingest — the delta's OWN pair counts
    (_co_order_pair_counts over delta orders only), the floor-crossing
    check against the stored pair-weight segments pruned to the
    delta's buckets (co_order_new_edges — the r13 probe's O(E)
    merged-vs-base anti-join is gone), and pagerank_patch_levels over
    src-bucketed adjacency segments with partition-pruned frontier
    scans and an incrementally-merged degree table.  The r13 row read
    flat ~32.5 s at every delta share because every level joined the
    full edge list; the pass criterion now is a wall that tracks the
    delta."""
    import shutil

    from end_to_end_datapipeline_project_spark.graph import (
        _co_order_pair_counts,
        co_order_new_edges,
        co_order_state,
        pagerank_patch_levels,
        pagerank_seed_levels,
    )

    full = f"/tmp/spark_graft_scale_{os.getuid()}/x{k}"
    big_dir = (
        full
        if os.path.exists(f"{full}/lineitem.parquet/_SUCCESS")
        else build(spark, k, ("lineitem",))
    )
    li = read_parquet_table(spark, big_dir, "lineitem").localCheckpoint()
    n_nodes = li.select("l_partkey").distinct().count()
    state_root = f"/tmp/spark_graft_scale_{os.getuid()}/sparse_state"

    rows_out = [
        SPARSE_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --sparse-pr` — the ×{k} part "
        f"co-order graph ({n_nodes:,} nodes, weight-floor ≥2, sparse "
        "by construction) held FIXED while the ingest delta share "
        "sweeps 10% → 0.1% (l_orderkey % mod == 7).  Timed region: the "
        "per-ingest patch only — delta pair counts, floor-crossing "
        "check against pair-weight segments PRUNED to the delta's "
        "buckets, and the 3-level blast-radius re-rank through "
        "partition-pruned scans of the src-bucketed stored adjacency "
        "with an incrementally-merged degree table.  Stored state "
        "(weight/adjacency segments, per-iteration rank vectors, "
        "degrees) is built untimed through the same kernels.  The r13 "
        "row sat flat at ~32.5 s because every level joined the FULL "
        "edge list and degrees were recomputed from E per patch "
        "(VERDICT r13 #1); the wall must now track the delta.",
        "",
        "| delta share | new edges | patched nodes | total nodes | "
        "patched frac | patch wall (s) |",
        "|---|---|---|---|---|---|",
    ]
    n_half = None
    for mod in (10, 100, 1000):
        cond = F.col("l_orderkey") % mod == 7
        shutil.rmtree(state_root, ignore_errors=True)
        # --- stored pre-ingest state, untimed
        store, base_half = co_order_state(li.filter(~cond), state_root)
        base_levels, outdeg0 = pagerank_seed_levels(base_half)
        if n_half is None:
            n_half = base_half.count()  # ~the fixed graph's edge count
        delta_li = li.filter(cond).localCheckpoint()
        # --- the timed per-ingest patch
        obs: dict = {}
        t0 = time.time()
        dw = _co_order_pair_counts(delta_li).localCheckpoint()
        new_half = co_order_new_edges(spark, store.dirs("weights"), dw)
        levels, _od = pagerank_patch_levels(
            spark, store.dirs("adj"), outdeg0, base_levels, new_half, obs=obs
        )
        levels[-1].count()
        dt = time.time() - t0
        rows_out.append(
            f"| 1/{mod} | {obs['n_new_edges']:,} | {obs['n_patched']:,} "
            f"| {n_nodes:,} | {obs['n_patched'] / max(n_nodes, 1):.3f} "
            f"| {dt:.2f} |"
        )
        print(rows_out[-1], flush=True)
    shutil.rmtree(state_root, ignore_errors=True)

    _write_sparse_section(SPARSE_MARKER, rows_out)


def _sparse_lpa_probe(spark, k: int) -> None:
    """`--sparse-lpa` (VERDICT r13 stretch #7): the delta-scaling sweep
    on the SECOND patch-kernel shape — incremental LPA shares the
    pruned-adjacency layout but its re-vote join has different pruning
    behavior (one S1-bucket read serves both level-1 and the S2
    expansion; level 2 gathers S2's buckets once).  Same fixed ×k
    co-order graph, same delta sweep, same timed-region contract as
    --sparse-pr."""
    import shutil

    from end_to_end_datapipeline_project_spark.graph import (
        _co_order_pair_counts,
        co_order_new_edges,
        co_order_state,
        lpa_patch_levels,
        lpa_seed_levels,
    )

    full = f"/tmp/spark_graft_scale_{os.getuid()}/x{k}"
    big_dir = (
        full
        if os.path.exists(f"{full}/lineitem.parquet/_SUCCESS")
        else build(spark, k, ("lineitem",))
    )
    li = read_parquet_table(spark, big_dir, "lineitem").localCheckpoint()
    n_nodes = li.select("l_partkey").distinct().count()
    state_root = f"/tmp/spark_graft_scale_{os.getuid()}/sparse_state"

    rows_out = [
        SPARSE_LPA_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --sparse-lpa` — the ×{k} "
        f"part co-order graph ({n_nodes:,} nodes) held FIXED while the "
        "delta share sweeps 10% → 0.1%; timed region is the per-ingest "
        "LPA patch (delta pair counts → pruned floor-crossing check → "
        "lpa_patch_levels' 1-hop re-vote through partition-pruned "
        "adjacency scans), stored state built untimed.",
        "",
        "| delta share | new edges | patched nodes | total nodes | "
        "patched frac | patch wall (s) |",
        "|---|---|---|---|---|---|",
    ]
    for mod in (10, 100, 1000):
        cond = F.col("l_orderkey") % mod == 7
        shutil.rmtree(state_root, ignore_errors=True)
        store, base_half = co_order_state(li.filter(~cond), state_root)
        l1b, l2b = lpa_seed_levels(base_half)
        delta_li = li.filter(cond).localCheckpoint()
        obs: dict = {}
        t0 = time.time()
        dw = _co_order_pair_counts(delta_li).localCheckpoint()
        new_half = co_order_new_edges(spark, store.dirs("weights"), dw)
        l1f, l2f = lpa_patch_levels(
            spark, store.dirs("adj"), l1b, l2b, new_half, obs=obs
        )
        l2f.localCheckpoint().count()
        dt = time.time() - t0
        rows_out.append(
            f"| 1/{mod} | {obs['n_new_edges']:,} | {obs['n_patched']:,} "
            f"| {n_nodes:,} | {obs['n_patched'] / max(n_nodes, 1):.3f} "
            f"| {dt:.2f} |"
        )
        print(rows_out[-1], flush=True)
    shutil.rmtree(state_root, ignore_errors=True)

    _write_sparse_section(SPARSE_LPA_MARKER, rows_out)


#: section owned by `scale_probe.py K --lsh-ingest` (VERDICT r14
#: missing #1 / task #2): the number the decade cell for
#: q_incremental_minhash_clusters conflates — what does ONE delta
#: ingest cost against EXISTING stored state?  The registered query
#: builds the pre-ingest state (≈90% of a rebuild) INSIDE the timed
#: cell; here the state seeds UNTIMED (the graph family's --sparse-pr
#: discipline) and only lsh_maintenance_step + reattachment is timed.
#: Sits between the decade cell and the skew probe.
LSH_INGEST_MARKER = (
    "## LSH maintenance ingest-only decade cell (tool-generated)"
)


def _lsh_ingest_probe(spark, k: int) -> None:
    """`--lsh-ingest`: seed the LSH cluster-maintenance state from the
    base corpus (doc_id % 10 != 7) UNTIMED, then time ONE
    lsh_maintenance_step ingesting the delta (doc_id % 10 == 7) plus
    the member reattachment — at ×30 and ×K.  min of 2 on the timed
    step against the SAME seeded state (the kernel is pure — it
    derives new state, never mutates the old).  The pass criterion a
    100 TB operator needs: the ×K ingest wall must sit BELOW the full
    rebuild's decade-cell wall, else maintaining the clustering loses
    to rebuilding it."""
    import gc

    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    rows_out = [
        LSH_INGEST_MARKER,
        "",
        f"`python tools/scale_probe.py {k} --lsh-ingest` — stored "
        "pre-ingest state (digests, group texts, capped index + spill, "
        "labels) seeded UNTIMED from the base "
        "corpus (doc_id % 10 != 7) via lsh_seed_state; timed region is "
        "ONE lsh_maintenance_step over the delta (doc_id % 10 == 7) "
        "plus member reattachment — the per-ingest cost the registered "
        "decade cell conflates with state construction (VERDICT r14 "
        "missing #1).  min of 2 per cell against the same seeded "
        "state; pairs = the ingest's own scored-pair CollectMetrics "
        "gauge.  Compare the ingest wall to q_minhash_clusters' "
        "decade-cell rebuild wall at the same scale: maintenance only "
        "earns its keep below it.",
        "",
        "| scale | docs | delta docs | seed (s, untimed) | "
        "ingest wall (s) | ingest pairs scored | out rows |",
        "|---|---|---|---|---|---|---|",
    ]
    for scale in (30, k):
        full = f"/tmp/spark_graft_scale_{os.getuid()}/x{scale}"
        sf_dir = (
            full
            if os.path.exists(f"{full}/documents.parquet/_SUCCESS")
            else build(spark, scale, ("documents",))
        )
        docs = read_parquet_table(spark, sf_dir, "documents")
        is_delta = F.col("doc_id") % 10 == 7
        n_docs = docs.count()
        corpus = docs.select(
            "doc_id", dedup.fingerprint_col().alias("fp"), "text"
        )
        delta = corpus.filter(is_delta).localCheckpoint()
        n_delta = delta.count()
        # --- stored pre-ingest state, untimed (the --sparse-pr
        # discipline); labels are materialized so the timed step reads
        # state, never re-derives it
        t0 = time.time()
        d0, g0, i0, s0, l0 = dedup.lsh_seed_state(docs.filter(~is_delta))
        i0, s0, l0 = (
            i0.localCheckpoint(),
            s0.localCheckpoint(),
            l0.localCheckpoint(),
        )
        t_seed = time.time() - t0
        best, pairs, out_rows = None, None, None
        for _rep in range(2):
            from pyspark.sql import Observation

            ro = Observation()
            obs: dict = {}
            t0 = time.time()
            d2, g2, _i2, _s2, l2, _ = dedup.lsh_maintenance_step(
                d0, g0, i0, s0, l0, delta, obs
            )
            out = dedup._reattach(d2, g2, l2)
            out.observe(ro, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.time() - t0
            if best is None or dt < best:
                best, pairs = dt, obs.get("n_pairs_scored", 0)
            out_rows = ro.get["rows"]
            spark.catalog.clearCache()
            gc.collect()
            spark._jvm.System.gc()
        rows_out.append(
            f"| ×{scale} | {n_docs:,} | {n_delta:,} | {t_seed:.1f} "
            f"| {best:.2f} | {pairs:,} | {out_rows:,} |"
        )
        print(rows_out[-1], flush=True)
        # free the seeded state's checkpoint blocks before the next scale
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
    _write_sparse_section(LSH_INGEST_MARKER, rows_out)


def _write_sparse_section(marker: str, rows_out: list) -> None:
    """Rewrite one tool-owned SCALING.md section in place, preserving
    everything after it up to the next known marker."""
    path = os.path.join(ROOT, "SCALING.md")
    doc = open(path).read()
    followers = [
        m
        for m in (SKEW_MARKER, SPARSE_MARKER, SPARSE_LPA_MARKER, AB_MARKER)
        if m != marker and m in doc
    ]
    tail = ""
    if marker in doc:
        rest = doc[doc.index(marker):]
        nxt = min(
            (rest.index(m) for m in followers if m in rest[1:]),
            default=len(rest),
        )
        tail = rest[nxt:]
        doc = doc[: doc.index(marker)]
    else:
        nxt_pos = min(
            (doc.index(m) for m in followers), default=len(doc)
        )
        tail = doc[nxt_pos:]
        doc = doc[:nxt_pos]
    with open(path, "w") as f:
        f.write(doc.rstrip() + "\n\n" + "\n".join(rows_out) + "\n\n" + tail)
    print(f"section '{marker[:40]}…' written to {path}")


def main() -> None:
    argv = sys.argv[1:]
    tail = "--tail" in argv  # subset run that WRITES the tail section
    decade = "--decade" in argv  # work-probe decade cell (×30 vs ×K)
    skew = "--skew" in argv  # hot-key probe (uniform ×K vs skewed ×K)
    sparse_pr = "--sparse-pr" in argv  # delta-scaling sweep (r12 task #7)
    sparse_lpa = "--sparse-lpa" in argv  # the LPA kernel's sweep (r14)
    lsh_ingest = "--lsh-ingest" in argv  # seeded-state ingest cell (r15)
    argv = [
        a
        for a in argv
        if a not in ("--tail", "--decade", "--skew", "--sparse-pr",
                     "--sparse-lpa", "--lsh-ingest")
    ]
    if argv and argv[0].isdigit():
        k = int(argv[0])
        subset = argv[1:]  # subset run: print ratios, keep SCALING.md
    else:
        k = 100 if (decade or lsh_ingest) else 10
        subset = argv
    if tail and not subset:
        # bare `--tail` defaults to the output-bound probe set rather
        # than rewriting the tail section to an empty table (ADVICE r7)
        subset = list(TAIL_DEFAULT)
    _load()
    # the skew probe reads max task durations off the UI REST API, so
    # its session (alone) re-enables the UI
    spark = get_spark(
        "scale-probe",
        extra_conf={"spark.ui.enabled": "true"} if skew else None,
    )

    def run(name: str, sf_dir: str, observed: bool = False) -> tuple:
        # Observation rides the same noop write — output-row counts cost
        # no extra pass, and make "output-bound" ratio claims checkable
        # (rows_small -> rows_big printed beside the wall ratio).  With
        # observed=True the WORK_PROBES form adds a second CollectMetrics
        # on the pre-cap rows — intrinsic work from the SAME timed run.
        from pyspark.sql import Observation

        obs = Observation()
        wobs = Observation() if observed else None
        # t0 BEFORE DataFrame construction (ADVICE r9): spark_fn bodies
        # that eagerly localCheckpoint() intermediates (shingle/vocab/
        # minhash-signature passes) run data-proportional Spark jobs
        # DURING construction — timing only the final write would hide
        # super-linear growth in exactly those checkpointed stages
        t0 = time.time()
        if observed:
            df = WORK_PROBES[name](spark, sf_dir, wobs)
        else:
            fn = name if callable(name) else REGISTRY[name].spark_fn
            df = fn(spark, sf_dir)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.time() - t0
        rows = obs.get["rows"]
        work = wobs.get["work_rows"] if observed else None
        # queries that persist()/localCheckpoint() intermediates pin
        # executor memory; without cleanup those RDDs survive into the
        # NEXT query's timing and skew it with GC/spill pressure.
        # ContextCleaner frees checkpoint blocks only after a JVM GC —
        # Python gc alone never triggers one (same fix as bench.py)
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        return dt, rows, work

    if lsh_ingest:
        _lsh_ingest_probe(spark, k)
        return

    if sparse_pr:
        _sparse_pr_probe(spark, k)
        return

    if sparse_lpa:
        _sparse_lpa_probe(spark, k)
        return

    if skew:
        _skew_probe(spark, run, k, subset or None)
        return

    if decade:
        _decade_probe(spark, run, k, subset or None)
        return

    big_dir = build(spark, k)
    if tail:
        _tail_probe(spark, run, k, big_dir, subset)
        return

    # warm both datasets' footers + codegen with one cheap query each
    run("q_pricing_summary", BASE_SF)
    run("q_pricing_summary", big_dir)

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
        runs_small = [run(name, BASE_SF) for _ in range(2)]
        runs_big = [run(name, big_dir) for _ in range(2)]
        t_small = min(t for t, _, _ in runs_small)
        t_big = min(t for t, _, _ in runs_big)
        rows_small, rows_big = runs_small[0][1], runs_big[0][1]
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
    # preserve the ×K tail section (this tool's --tail mode) and the
    # interleaved-A/B adjudication appendix (tools/ab_bench.py) — the
    # full probe owns only the ratio table
    appendix = ""
    try:
        old = open(os.path.join(ROOT, "SCALING.md")).read()
        marks = [
            old.index(m)
            for m in (
                TAIL_MARKER,
                DECADE_MARKER,
                SKEW_MARKER,
                SPARSE_MARKER,
                AB_MARKER,
            )
            if m in old
        ]
        if marks:
            appendix = "\n" + old[min(marks):]
    except OSError:
        pass
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n" + appendix)
    print("SCALING.md written")


if __name__ == "__main__":
    main()
