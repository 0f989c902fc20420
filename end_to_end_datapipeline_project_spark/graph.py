"""Graph analytics over relational edges.

PageRank here runs on the supplier *co-supply* graph (suppliers linked
when they ship the same part — the entity-resolution / influence graph a
catalog pipeline builds from lineitem). Connected components lives in
``llm_ops.dedup.connected_components`` (shared by shingle- and
embedding-space dedup clustering).

Reference parity: the reference has no graph tier (SURVEY.md §2.4 "no
joins"); this is part of the 100 TB LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import cut
from .registry import register, spark_dsum_rounded
from .sources import read_parquet_table
from .state import StateStore, read_segments

PR_ITERS = 3
PR_DAMP = 0.85


def _fanout_repartition(df: DataFrame, key: str) -> DataFrame:
    """Re-spread a collect_set aggregate before a quadratic pair explode.

    The set-list a ``groupBy(key).agg(collect_set(...))`` emits is tiny
    (O(|keys|) rows), so AQE coalesces it to 1-2 partitions — but the
    NEXT stage explodes C(|set|, 2) pairs per row, a fan-out AQE sizes
    by the *input* bytes and therefore underestimates quadratically,
    leaving all but a couple of cores idle through the most expensive
    stage of every graph query here (measured 2.4x on sf0.1 pagerank
    edge-gen: 8.7M exploded pairs on 2 of 32 cores).  An explicit
    hash repartition of the small set-list costs a trivial shuffle and
    restores fan-out parallelism.  Hash on the group key, NOT round-
    robin: ``repartition(n)`` inserts a full local sort of every row
    (arrays included) for rerun determinism (SPARK-23207), which
    measured 3x slower than the explode it unblocks.

    Partition count: cores/2.  Two effects pull in opposite directions
    — more partitions parallelize the explode CPU, fewer partitions
    make the downstream distinct/count's map-side dedup see more
    repeats (cross-part duplicate pairs only collapse pre-shuffle when
    they land in the same map task), so the shuffle volume grows with
    the partition count.  The interleaved sweep measured the optimum at
    8 for sf0.1 and 16-32 at x10 data; cores/2 is within noise of best
    at both scales and, on a real cluster where parallelism tracks
    cluster (and therefore data) size, scales the fan-out stage with
    the job.  (A data-proportional count from the source's scan split
    count was tried and rejected: split count proved too
    file-layout-dependent to be a reliable proxy for data volume.)
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(8, cores // 2)
    return df.repartition(n, F.col(key))


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out} AS (
    SELECT n.id,
           0.15 + {PR_DAMP} * coalesce(
             CAST(SUM(CAST(r.pr / d.outdeg AS DECIMAL(30,6))) AS DOUBLE),
             0.0) AS pr
    FROM __nodes n
    LEFT JOIN __edges e ON e.dst = n.id
    LEFT JOIN {prev} r ON r.id = e.src
    LEFT JOIN __deg d ON d.src = e.src
    GROUP BY n.id
  )"""


#: full 3-iteration rebuild on the whole lineitem table — the oracle for
#: BOTH q_pagerank and q_incremental_pagerank (the incremental path's
#: gate is literally "maintenance ≡ rebuild", the r11 pattern from
#: q_incremental_minhash / q_lsh_index_upsert)
PAGERANK_SQL = f"""
  WITH __edges AS (
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
  ),
  __nodes AS (SELECT DISTINCT l_suppkey AS id FROM lineitem),
  __deg AS (
    SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
    FROM __edges GROUP BY src
  ),
  __r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM __nodes),
  {_pr_iter_sql("__r0", "__r1")},
  {_pr_iter_sql("__r1", "__r2")},
  {_pr_iter_sql("__r2", "__r3")}
  SELECT id AS supp_id, round(pr, 6) AS pagerank FROM __r3
"""


@register(
    "q_pagerank",
    PAGERANK_SQL,
    doc=f"PageRank ({PR_ITERS} synchronous iterations, damping {PR_DAMP}) "
    "over the supplier co-supply graph. Spark runs the classic "
    "message-passing loop over ONE adjacency cut — a row per directed "
    "edge plus a row naming each supplier (isolated ones included), "
    "checkpointed once and kept hash-partitioned on the supplier — so "
    "each iteration joins the rows to the broadcast O(|V|) share vector "
    "(pr/degree) and aggregates per supplier where the rows already "
    "live: no iteration shuffles. Per-message decimal-quantized sums "
    "keep each iteration bit-identical to the oracle's unrolled-CTE "
    "evaluation.",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return pagerank(li)


def _packed_pairs(ps: DataFrame, with_self: bool = False) -> DataFrame:
    """Distinct (src, dst) supplier pairs, src < dst (src <= dst with
    ``with_self``: every supplier also pairs with itself), sharing a part
    in ``ps`` (l_partkey, l_suppkey).  An equi-join on l_partkey emits
    each ordered pair inside the join stage (measured faster than
    collect_set + array explode at this ~30-supplier fan-out, and the
    gap widens with scale; OPTIMIZATION_r16.md appendix).  Pairs dedup
    on ONE packed long (src << 32 | dst) instead of a two-long struct:
    ~40% less shuffle payload through the dedup exchange (valid while
    supplier keys < 2^31, which holds at any TPC-H scale factor;
    partkey-sized graphs keep the struct form)."""
    a, b = F.col("a.l_suppkey"), F.col("b.l_suppkey")
    return (
        ps.alias("a")
        .join(
            ps.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & ((a <= b) if with_self else (a < b)),
        )
        .select((a * 4294967296 + b).alias("e"))
        .distinct()
        .select(
            F.expr("e DIV 4294967296").alias("src"),
            F.expr("e % 4294967296").alias("dst"),
        )
    )


def _co_supply_half(li: DataFrame) -> DataFrame:
    """Checkpointed HALF edge list (src < dst) of the supplier co-supply
    graph (:func:`_packed_pairs`).  Dedup (l_partkey, l_suppkey) FIRST,
    then pair.  Checkpointing the HALF list keeps the materialized
    footprint 4x smaller than the annotated directed list: both
    directions and the outdeg annotation derive from it with a union +
    broadcast join.

    The deduped (part, supplier) table is re-spread to a PINNED width
    before the self-join (r15): the distinct output is ~10 MB at sf0.1,
    so AQE's byte-based coalescing ran the C(suppliers-per-part, 2)
    pair-explosion join on ~10 of 32 cores — the _fanout_repartition
    pathology in join form.  An explicit REPARTITION_BY_NUM on the join
    key costs one exchange of the small deduped table and restores full
    fan-out parallelism; keeping ``.distinct()`` (not a repartition-
    keyed dropDuplicates) preserves its map-side partial dedup, which
    the ×10 A/B showed matters more than saving that exchange
    (interleaved min-of-3: pinned+distinct 7.4 s vs 9.4 s current vs
    9.2 s single-exchange form; sf0.1 2.2 s vs 2.9 s).

    Because BOTH self-join aliases read this one repartitioned ``ps``,
    the broadcast-regime plan (small scales) carries a second
    REPARTITION_BY_NUM exchange inside the BroadcastExchange on the
    build side — deliberate (ADVICE r15 #2 A/B'd the alternative):
    pinning only the probe side saves that small exchange at sf0.1
    (2.43 vs 2.72 s interleaved min-of-4) but LOSES 1.7× at ×10
    (9.53 vs 5.52 s), where the join leaves the broadcast regime and
    the shared pinned exchange is what lets both sort/hash sides reuse
    ONE shuffle at full width.  The small-scale build-side exchange is
    the price of the at-scale shape."""
    n = li.sparkSession.sparkContext.defaultParallelism
    ps = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .repartition(n, "l_partkey")
    )
    return cut(_packed_pairs(ps), "_co_supply_half")


def _co_supply_adj(li: DataFrame) -> DataFrame:
    """Checkpointed adjacency rows (id, nbr) of the supplier co-supply
    graph, hash-partitioned on id and kept so (``cut(by=("id",))``): a
    row per directed edge, plus one (id, null) row per supplier of
    ``li``, so an isolated supplier is still a node.  The null rows come
    from the self pairs of :func:`_packed_pairs` and, for suppliers of
    rows with a null key (no pair at all), from those rows directly.

    The (part, supplier) table is pinned to the cores' width as
    :func:`_co_supply_half` pins it, but deduped after that exchange,
    not before it: one exchange, one job fewer.  (Dedup is ~1.5% of the
    rows at sf0.1, where a supplier is rarely repeated within a part.)"""
    n = li.sparkSession.sparkContext.defaultParallelism
    ps = (
        li.select("l_partkey", "l_suppkey")
        .repartition(n, "l_partkey")
        .distinct()
    )
    src, dst, none = F.col("src"), F.col("dst"), F.lit(None).cast("long")
    rows = _packed_pairs(ps, with_self=True).select(
        F.inline(
            F.when(src == dst, F.array(_adj_row(src, none))).otherwise(
                F.array(_adj_row(src, dst), _adj_row(dst, src))
            )
        )
    )
    keyless = li.filter(
        F.col("l_partkey").isNull() | F.col("l_suppkey").isNull()
    ).select(F.col("l_suppkey").alias("id"), none.alias("nbr"))
    return cut(
        rows.unionAll(keyless).repartition(n, "id"),
        "_co_supply_adj",
        by=("id",),
    )


def _adj_row(node: "F.Column", nbr: "F.Column") -> "F.Column":
    return F.struct(node.alias("id"), nbr.alias("nbr"))


def _half_adj(half: DataFrame) -> DataFrame:
    """Checkpointed adjacency rows (id, nbr) of a half edge list, both
    orientations, kept hash-partitioned on id; a node without an edge
    has no row."""
    n = half.sparkSession.sparkContext.defaultParallelism
    return cut(
        _directed_half(half)
        .select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
        .repartition(n, "id"),
        "_half_adj",
        by=("id",),
    )


def _directed_half(half: DataFrame) -> DataFrame:
    """Both orientations of a half edge list."""
    return half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )


def _pr_rank(share: "F.Column") -> "F.Column":
    """The rank update, written once: pr = 0.15 + PR_DAMP · Σ messages
    over the message values ``share`` of a group (0.15 for a group
    whose messages are all null: a node with no neighbour).

    Invariant: each message is quantized to decimal(30,6) HALF_UP and
    summed exactly (``spark_dsum_rounded``, a primitive-long
    accumulator), so every level is bit-identical to the oracle's
    unrolled-CTE evaluation, whatever the summation order."""
    m = F.coalesce(spark_dsum_rounded(share), F.lit(0.0))
    return (0.15 + PR_DAMP * m).alias("pr")


def _pr_level(adj: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One synchronous PageRank level over adjacency rows ``adj`` (id,
    nbr) kept hash-partitioned on id (a null nbr only names a node).
    Every neighbour sends its ``share`` = pr / degree, read from
    ``prev``'s (id, share) vector broadcast (O(|V|)); with ``prev`` None
    the prior pr is 1.0.  The rows never leave the partition of their
    id, so the per-id sum plans no exchange, and the degree is counted
    in the same aggregate.  Returns (id, pr, share) for every id of
    ``adj``; an id with no neighbour takes pr 0.15 and a null share,
    which no message reads.

    The share is the per-message ``pr / outdeg`` of a message-passing
    level computed once per sender: the same double division, so the
    quantized sums, and every level, are unchanged."""
    deg = F.count("nbr")
    if prev is None:
        prev = adj.groupBy("id").agg(
            F.try_divide(F.lit(1.0), deg).alias("share")
        )
    sender = prev.select(F.col("id").alias("nbr"), "share")
    return (
        adj.join(F.broadcast(sender), "nbr", "left")
        .groupBy("id")
        .agg(_pr_rank(F.col("share")), deg.alias("deg"))
        .select("id", "pr", F.try_divide("pr", "deg").alias("share"))
    )


def _pr_result(rows: DataFrame, final: DataFrame) -> DataFrame:
    """The published ranks: every supplier in ``rows`` (any frame with
    ``l_suppkey``) joined to the final level; isolated suppliers take
    the closed-form 0.15."""
    nodes = rows.select(F.col("l_suppkey").alias("id")).distinct()
    return nodes.join(final, "id", "left").select(
        F.col("id").alias("supp_id"),
        F.round(F.coalesce("pr", F.lit(0.15)), 6).alias("pagerank"),
    )


def pagerank(li: DataFrame) -> DataFrame:
    """Supplier co-supply PageRank: :data:`PR_ITERS` levels of
    :func:`_pr_level` over the one adjacency cut.

    Layout: the adjacency rows (:func:`_co_supply_adj`) are checkpointed
    once, isolated suppliers included, and the cut keeps its hash
    partitioning on id.  A level joins the rows to the broadcast share
    vector of the level before and sums per id inside the partition the
    rows already sit in, so no level shuffles; each level carries its
    own shares (pr / degree), so no out-degree table and no final node
    join are left.  Jobs on ``perfbench/corpus`` (``collect()``
    included): 9 (5 building the cut, 3 share broadcasts, the final
    read), against 15 for the half edge list with a degree table and a
    node join.

    The id-partitioned rows cost one more shuffle of the directed edges
    to build and save each level's shuffle and jobs.  Against the
    half-list form on 4 cores (same process, interleaved, median / min
    wall): sf0.1 5.29 / 4.44 → 5.38 / 4.36 s over 7 pairs
    (construction 3.25 → 3.80 s, final action 2.04 → 1.58 s); ×10
    38.7 / 32.4 → 36.8 / 35.7 s over 5 rounds, so at ×10 the extra
    shuffle is not paid back on a quiet run.  A ``collect_set``
    neighbour-array adjacency built 1.4–1.7x slower at both scales.  The rejected alternatives of the half-list form (a
    src-partitioned shuffle-join rank form, a BigDecimal message sum, a
    dst-partitioned annotated list) and their A/Bs are in the
    OPTIMIZATION_r16.md appendix.
    """
    adj = _co_supply_adj(li)
    pr = None
    for _ in range(PR_ITERS):
        pr = _pr_level(adj, pr)
    return pr.select(
        F.col("id").alias("supp_id"), F.round("pr", 6).alias("pagerank")
    )


def pagerank_seed_levels(half: DataFrame) -> tuple:
    """Stored PageRank state for a half edge list, computed in full:
    (per-level (id, pr) rank vectors, out-degree table) — what the
    incremental queries, the streaming twin and the sparse probe seed
    their stored state with before patching it.  Each level is
    checkpointed; the degree table is an aggregate of the adjacency cut
    that plans no exchange.

    Invariant: level k is level k of :func:`pagerank` on the same graph
    (same :func:`_pr_level`) without its isolated nodes, which a half
    edge list does not name, and the out-degree table is the one
    :func:`pagerank_patch_levels` merges new edges into.  Measured
    against seeding through :func:`pagerank_patch_levels` from empty
    state at sf0.1 on 4 cores (base co-supply graph, edge generation
    included, interleaved, min of 5), with the message-passing levels
    the adjacency levels replaced: 4.71 s / 19 jobs here vs 8.92 s /
    52 jobs through the patch kernel, whose frontier and pruned-read
    machinery only pays off when most of the graph is already stored.
    On ``perfbench/corpus`` the seed launches 8 jobs: 2 for the
    adjacency cut and 2 per level."""
    adj = _half_adj(half)
    levels: list[DataFrame] = []
    for _ in range(PR_ITERS):
        prev = levels[-1] if levels else None
        levels.append(cut(_pr_level(adj, prev), "pagerank_seed_levels.level"))
    outdeg = _out_degrees(adj.withColumnRenamed("id", "src"))
    return [lvl.select("id", "pr") for lvl in levels], outdeg


#: partition-dir count for PRUNABLE stored state (adjacency segments,
#: pair-weight segments, part rosters).  Frontier/delta joins collect
#: their bucket set (≤ this many ints) and scan only those partitions —
#: the pruning only bites while |touched keys| < buckets, so the count
#: sits well above the sparse-probe's smallest frontiers (~200 nodes)
#: while keeping per-segment file counts bounded on local disk.  At
#: warehouse scale this is the bucket count of the stored edge table.
ADJ_BUCKETS = 512


def _bucket(*cols: str) -> "F.Column":
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(ADJ_BUCKETS))


def bucketed(df: DataFrame, *key_cols: str) -> DataFrame:
    """``df`` with the ``__bkt`` column a prunable segment is
    partitioned by: ``pmod(xxhash64(*key_cols), ADJ_BUCKETS)``, the hash
    :func:`read_pruned` recomputes from its keys."""
    return df.withColumn("__bkt", _bucket(*key_cols))


def adj_rows(half: DataFrame) -> DataFrame:
    """The stored-adjacency segment rows for a (src < dst) half edge
    list: both orientations, bucketed on src.  The graphs these kernels
    serve are symmetric, so the src-keyed layout answers both out-edge
    (expansion) and in-edge (gather, read reversed) probes.  Written
    through ``StateStore.commit(append=..., partition_by={...:
    ["__bkt"]})``, which hashes rows to their bucket before the write
    (one file per non-empty bucket); an empty segment has no files and
    reads as empty under its declared schema."""
    return bucketed(_directed_half(half), "src")


#: key sets at or below this BROADCAST in the pruned stored-state
#: reads (~32 MB of longs); above it the key semi-join falls back to a
#: plain shuffle join.  The patch kernels' frontiers are delta-blast-
#: radius bounded so the broadcast is the normal path, but a large-
#: delta ingest's 2/3-hop frontier on a 100 TB graph can exceed any
#: driver's broadcast budget — the gate makes that regime degrade to a
#: shuffle instead of OOMing the driver.  Costs nothing extra to
#: enforce: the key count rides the same one-row-per-bucket action the
#: partition pruning already collects.
FRONTIER_BCAST_MAX = 4_000_000


def read_pruned(
    spark: SparkSession,
    dirs: list,
    keys: DataFrame,
    schema: str,
    extra: DataFrame | None = None,
) -> DataFrame:
    """Rows of a bucket-partitioned segment table (``dirs``, written
    with :func:`bucketed` on the key columns) whose key columns match a
    row of ``keys`` — the one pruned reader behind every stored-state
    lookup of the graph kernels: adjacency frontiers, pair weights, and
    the streaming twins' part/order rosters.

    ``keys`` carries exactly the key columns and holds each key once.
    One driver action collects the keys' bucket set (≤ ADJ_BUCKETS
    rows) and their count; the scan reads only those partitions of
    each segment (PartitionFilters on ``__bkt``), and the key semi-join
    broadcasts while the count is at most :data:`FRONTIER_BCAST_MAX`,
    else it degrades to a shuffle join.  Scan cost tracks the keys'
    buckets, never the table.  ``extra`` holds rows in the same
    ``schema`` that are not yet committed (an ingest's own new
    adjacency rows), filtered by the same semi-join; it must be
    row-disjoint from ``dirs``, or a row is returned twice (min/mode
    kernels survive that, message sums do not).  ``schema`` is the
    payload shape, also returned empty when there is nothing to read;
    the segments are read with it plus the ``__bkt int`` partition
    column, so the read launches no footer job.

    Measured (r14 sparse probe, ×10 co-order graph on 32 cores):
    per-ingest PageRank patch wall 19.9 / 11.2 / 7.6 s at 10% / 1% /
    0.1% deltas, against a flat ~32.5 s when every level joined the
    full edge list."""
    if not dirs and extra is None:
        return spark.createDataFrame([], schema)
    cols = [c.split()[0] for c in schema.split(",")]
    key_cols = keys.columns
    per_bkt = (
        keys.select(_bucket(*key_cols).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    scan = extra
    if dirs:
        stored = (
            read_segments(spark, dirs, f"{schema}, __bkt int")
            .filter(F.col("__bkt").isin([r["b"] for r in per_bkt]))
            .select(*cols)
        )
        scan = stored if extra is None else stored.unionByName(extra)
    if sum(r["count"] for r in per_bkt) <= FRONTIER_BCAST_MAX:
        keys = F.broadcast(keys)
    # USING-joins move the key columns first; pin the order back
    return scan.join(keys, key_cols, "left_semi").select(*cols)


def co_supply_new_edges(
    spark: SparkSession,
    adj_dirs: list,
    roster_scoped: DataFrame,
    batch_ps: DataFrame,
) -> tuple:
    """NEW co-supply edges induced by a batch of (l_partkey, l_suppkey)
    pairs, DELTA-sized end to end: ``roster_scoped`` is the stored
    pair roster already pruned to the batch's parts (a new edge must
    share a part with a new pair), candidate supplier pairs come from
    new-pair × scoped-roster join, and the already-stored check reads
    only the candidates' buckets of the stored adjacency.  Returns
    (new_ps, new_half), both checkpointed."""
    new_ps = cut(
        batch_ps.join(roster_scoped, ["l_partkey", "l_suppkey"], "left_anti"),
        "co_supply_new_edges.new_ps",
    )
    side = roster_scoped.unionByName(new_ps)
    cand = (
        new_ps.alias("a")
        .join(
            side.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(
            F.least("a.l_suppkey", "b.l_suppkey").alias("src"),
            F.greatest("a.l_suppkey", "b.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    ids = cand.select(F.col("src").alias("id")).distinct()
    stored = _read_adj(spark, adj_dirs, ids, None)
    new_half = cut(
        cand.join(stored, ["src", "dst"], "left_anti").select("src", "dst"),
        "co_supply_new_edges.new_half",
    )
    return new_ps, new_half


def _seed_ids(new_half: DataFrame) -> DataFrame:
    """Endpoints of an ingest's new edges (checkpointed, column id): the
    nodes whose degree or level-1 value an ingest changes."""
    return cut(
        new_half.select(F.col("src").alias("id"))
        .unionAll(new_half.select(F.col("dst").alias("id")))
        .distinct(),
        "_seed_ids",
    )


def _read_adj(
    spark: SparkSession,
    adj_dirs: list,
    ids: DataFrame,
    new_rows: DataFrame | None,
) -> DataFrame:
    """Stored adjacency rows (both orientations of every edge, bucketed
    on src), plus the not-yet-committed ``new_rows``, whose src is in
    ``ids`` (column id)."""
    keys = ids.withColumnRenamed("id", "src")
    return read_pruned(spark, adj_dirs, keys, "src long, dst long", new_rows)


def _reversed(rows: DataFrame) -> DataFrame:
    return rows.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def _patch_level(contrib: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One PageRank level over directed (src, dst, outdeg) message rows:
    every src sends ``pr / outdeg`` to dst, ``pr`` the prior 1.0 when
    ``prev`` is None and otherwise ``prev``'s (id, pr) vector,
    broadcast.  Returns (id, pr) for every node that receives a
    message, ranked by :func:`_pr_rank` from the same double messages
    as :func:`_pr_level`'s shares, so a patched value equals the
    rebuild's."""
    sender = (
        contrib.withColumn("pr", F.lit(1.0))
        if prev is None
        else contrib.join(
            F.broadcast(prev.withColumnRenamed("id", "src")), "src"
        )
    )
    return sender.groupBy(F.col("dst").alias("id")).agg(
        _pr_rank(F.col("pr") / F.col("outdeg"))
    )


def pagerank_patch_levels(
    spark: SparkSession,
    adj_dirs: list,
    outdeg_base: DataFrame,
    base_levels: list,
    new_half: DataFrame,
    *,
    obs: dict | None = None,
) -> tuple:
    """The incremental-PageRank PATCH kernel: given the STORED state
    (``adj_dirs`` adjacency segments, ``outdeg_base`` degree table, the
    per-level rank vectors ``base_levels``) and an ingest's checkpointed
    ``new_half`` edges, re-rank only the new edges' blast radius with
    :func:`_pr_level` and keep the stored doubles everywhere else.

    Level k patches S_k = S_{k-1} ∪ N(S_{k-1}), S_0 = the new edges'
    endpoints; the level count is ``len(base_levels)``.  Each level pays
    ONE pruned read (:func:`read_pruned` of S_k's buckets): the rows
    reversed are S_k's in-edges (exact, both orientations are stored),
    and their dst column is the next expansion.  The degree table is
    maintained (one O(V) merge with the new edges' counts), never
    recomputed from E.  Per-ingest cost: O(blast-radius buckets) scans
    plus O(V) vector merges, never an O(E) pass.  Exactness argument on
    :func:`incremental_pagerank`; composes across ingests by induction.

    Returns (levels, outdeg_merged).  The merged degree table is
    checkpointed; each level is a LAZY union over checkpointed pieces
    only (stored level, frontier, patched values), so it is safe to
    publish after the adjacency dirs are gone without paying an O(V)
    materialization per level.  ``obs`` receives the blast-radius
    gauges ``n_new_edges`` and ``n_patched``.

    Measured (r14 sparse probe, ×10 co-order graph held fixed on 32
    cores): 19.9 / 11.2 / 7.6 s per ingest at 10% / 1% / 0.1% deltas;
    the floor is job count, not data (OPTIMIZATION_r16.md §6)."""
    new_rows = _directed_half(new_half)
    outdeg = cut(
        outdeg_base.withColumnRenamed("outdeg", "d0")
        .join(
            _out_degrees(new_rows).withColumnRenamed("outdeg", "d1"),
            "src",
            "full",
        )
        .select(
            "src",
            (
                F.coalesce("d0", F.lit(0.0)) + F.coalesce("d1", F.lit(0.0))
            ).alias("outdeg"),
        ),
        "pagerank_patch_levels.outdeg",
    )
    frontier = _seed_ids(new_half)
    out_rows = _read_adj(spark, adj_dirs, frontier, new_rows)
    levels: list[DataFrame] = []
    for base in base_levels:
        # checkpointed: the frontier feeds the bucket collect, the
        # probe semi-join, the base anti-join and the next union — a
        # lazy union-distinct re-ran for each and measured slower
        frontier = cut(
            frontier.unionAll(out_rows.select(F.col("dst").alias("id")))
            .distinct(),
            "pagerank_patch_levels.frontier",
        )
        out_rows = cut(
            _read_adj(
                spark, adj_dirs, frontier, new_rows
            ),
            "pagerank_patch_levels.out_rows",
        )  # blast-radius-sized
        contrib = _reversed(out_rows).join(F.broadcast(outdeg), "src")
        patched = cut(
            _patch_level(contrib, levels[-1] if levels else None),
            "pagerank_patch_levels.patched",
        )
        levels.append(
            base.join(frontier, "id", "left_anti").unionAll(patched)
        )
    if obs is not None:
        obs["n_new_edges"] = new_half.count()
        obs["n_patched"] = frontier.count()
    return levels, outdeg


def incremental_pagerank(li: DataFrame, delta_cond) -> DataFrame:
    """Delta-edge PageRank maintenance: re-rank only the ingest's blast
    radius, reuse stored per-level ranks everywhere else — EXACTLY
    equal to a full rebuild on the merged graph (the oracle gate).

    Exactness (why a bounded restart is not an approximation for a
    fixed-iteration rank): after k synchronous levels a node's rank is
    a function of its k-hop in-neighborhood's degrees and the uniform
    prior.  An ingest only ADDS edges, and r_k(n) can change only if n
    is within k hops of a node whose degree changed — a new edge's
    endpoint.  So patching S_k = expand^k(seeds) with messages drawn
    from the previous level's patched-or-stored values reproduces the
    full rebuild bit-for-bit: unaffected nodes keep stored doubles the
    rebuild would recompute from identical inputs through the same
    :func:`_pr_level`, and patched nodes aggregate over ALL their
    in-edges with it.

    Stored state: the base graph's adjacency as one bucketed segment
    committed through :class:`state.StateStore` (an empty base writes a
    readable empty segment), the (l_partkey, l_suppkey) roster, and
    the :func:`pagerank_seed_levels` degree table and rank vectors (each
    a ``lineage.cut``).  The ingest is delta-sized end to end: new
    edges come from delta pairs × the roster pruned to delta parts
    (:func:`co_supply_new_edges`), then :func:`pagerank_patch_levels`.
    On this deliberately dense graph (~60 co-suppliers per node) a
    3-hop ball saturates, so the wall here is rebuild-sized; the bound
    is structural, |blast radius|, not corpus size."""
    import shutil
    import tempfile

    spark = li.sparkSession
    base_li = li.filter(~delta_cond)
    root = tempfile.mkdtemp(prefix="spark_graft_incpr_")
    try:
        base_half = _co_supply_half(base_li)
        store = StateStore(root)
        store.commit(
            0,
            append={"adj": adj_rows(base_half)},
            partition_by={"adj": ["__bkt"]},
        )
        base_levels, outdeg0 = pagerank_seed_levels(base_half)
        base_ps = cut(
            base_li.select("l_partkey", "l_suppkey")
            .distinct(),
            "incremental_pagerank.base_ps",
        )
        delta_ps = (
            li.filter(delta_cond)
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        roster_sc = base_ps.join(
            delta_ps.select("l_partkey").distinct(), "l_partkey", "left_semi"
        )
        adj_dirs = store.dirs("adj")
        _new_ps, new_half = co_supply_new_edges(
            spark, adj_dirs, roster_sc, delta_ps
        )
        levels, _outdeg = pagerank_patch_levels(
            spark, adj_dirs, outdeg0, base_levels, new_half
        )
        # levels are lazy unions over checkpointed pieces only — the
        # returned plan never re-reads the tmpdir the finally removes
        return _pr_result(li, levels[-1])
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "q_incremental_pagerank",
    PAGERANK_SQL,
    doc="Incremental PageRank maintenance: a simulated ingest delta "
    "(l_orderkey % 10 = 7, ~10% of lineitem) adds co-supply edges; "
    "only the delta's 3-hop blast radius is re-ranked, every other "
    "node keeps its stored per-iteration rank — and the ORACLE is the "
    "full 3-iteration rebuild on the merged graph, so the gate itself "
    "proves maintenance ≡ rebuild (bit-for-bit, via the same "
    "decimal-quantized message kernel). Extends the r11 "
    "incremental-ingest pattern (q_incremental_minhash, "
    "q_lsh_index_upsert, q_incremental_tfidf) to the costliest query "
    "family in the suite. Exactness + 100 TB analysis on "
    "incremental_pagerank.",
)
def q_incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return incremental_pagerank(li, F.col("l_orderkey") % 10 == 7)


# part co-order graph: parts are linked when they appear together in >= 2
# distinct orders (the weight floor keeps the graph sparse — the raw
# co-order graph has ~30x more edges, almost all weight-1 noise)
_CO_ORDER_HALF_SQL = """
  __half AS (
    SELECT src, dst FROM (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey)
    GROUP BY src, dst
    HAVING count(*) >= 2
  )"""


def ordered_pairs(
    sets: DataFrame, set_col: str, a: str, b: str
) -> DataFrame:
    """Explode every C(set, 2) ordered pair (x earlier than y in the
    sorted array) INSIDE the scan stage — the quadratic pair kernel
    every co-occurrence graph builder here shares.  q_pagerank keeps
    its own packed-long variant of this expression (one BIGINT per pair
    instead of a two-long struct, ~40% less dedup-shuffle payload,
    valid only while keys < 2^31).
    """
    return sets.select(
        F.explode(
            F.expr(
                f"flatten(transform({set_col}, (x, i) -> "
                f"transform(slice({set_col}, i + 2, size({set_col})), "
                f"y -> struct(x AS {a}, y AS {b}))))"
            )
        ).alias("__p")
    ).select(f"__p.{a}", f"__p.{b}")


def _co_order_pair_counts(li: DataFrame) -> DataFrame:
    """UNFLOORED distinct-order co-occurrence counts (src < dst, n_co)
    — the additive weight increment a disjoint set of orders
    contributes, and therefore the payload of the stored pair-weight
    table's append-only segments (:func:`co_order_new_edges`): counts
    from disjoint order sets sum to the merged count, so an ingest
    appends its own counts and never rewrites history.

    One shuffle on l_orderkey with a map-side-combined collect_set
    (orders hold ~4 lines, so per-order sets are tiny), pairs exploded
    inside the stage, then one (src, dst) counting shuffle.  Never
    materializes per-pair rows before the count."""
    sets = _fanout_repartition(
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        ),
        "l_orderkey",
    )
    return (
        ordered_pairs(sets, "ps", "src", "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )


def _co_order_half_edges(li: DataFrame, weighted: bool = False) -> DataFrame:
    """(src < dst) part pairs co-ordered in >= 2 distinct orders;
    ``weighted`` adds w = 1 / co-order-count (the SSSP edge weight).
    The support floor filters on the COUNT (n_co >= 2), matching the
    oracle's HAVING — never on a derived float; weight-1 noise (the
    ~30x raw pair tail) never materializes per-pair rows."""
    agg = _co_order_pair_counts(li).filter(F.col("n_co") >= 2)
    if weighted:
        return agg.select(
            "src", "dst", (F.lit(1.0) / F.col("n_co")).alias("w")
        )
    return agg.select("src", "dst")


def co_order_new_edges(
    spark: SparkSession, weight_dirs: list, dw: DataFrame
) -> DataFrame:
    """NEW weight-floor co-order edges an ingest creates, DELTA-sized:
    ``dw`` is the ingest's own (src, dst, n_co) count increments
    (checkpointed); the stored totals for exactly those pairs come
    from a partition-pruned read of the weight segments, and a pair is
    a new edge iff its total crosses the >= 2 floor THIS ingest
    (monotone under ingest: counts only grow).  Never recounts the
    corpus and never scans untouched weight buckets.  Returns the
    checkpointed (src, dst) half list."""
    # each segment holds one ingest's counts; a pair's weight is the sum
    keys = dw.select("src", "dst")
    schema = "src long, dst long, n_co long"
    stored = read_pruned(spark, weight_dirs, keys, schema)
    base_tot = stored.groupBy("src", "dst").agg(
        F.sum("n_co").alias("n_base")
    )
    return cut(
        dw.join(base_tot, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            "n_co",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
        )
        .filter(
            (F.col("n_base") < 2) & (F.col("n_base") + F.col("n_co") >= 2)
        )
        .select("src", "dst"),
        "co_order_new_edges",
    )


def co_order_weights(li: DataFrame) -> tuple:
    """(RAW pair-weight table, ≥2-floor half edge list) of the orders in
    ``li``, each a cut."""
    w = cut(_co_order_pair_counts(li), "co_order_weights.w")
    half = cut(
        w.filter(F.col("n_co") >= 2).select("src", "dst"),
        "co_order_weights.half",
    )
    return w, half


def co_order_state(base_li: DataFrame, root: str) -> tuple:
    """Stored co-order graph state for the orders in ``base_li``,
    committed through a :class:`state.StateStore` at ``root``: the RAW
    pair-weight table as a pair-bucketed segment (the payload
    :func:`co_order_new_edges` reads) and the ≥2-floor adjacency as a
    src-bucketed segment (:func:`adj_rows`); an empty base writes
    readable empty segments.  Returns (store, checkpointed half edge
    list)."""
    w0, base_half = co_order_weights(base_li)
    store = StateStore(root)
    store.commit(
        0,
        append={
            "weights": bucketed(w0, "src", "dst"),
            "adj": adj_rows(base_half),
        },
        partition_by={"weights": ["__bkt"], "adj": ["__bkt"]},
    )
    return store, base_half


def orient_by_degree(half: DataFrame) -> DataFrame:
    """Re-orient an undirected (src, dst) edge list from the
    (degree, id)-smaller endpoint to the larger one.

    Any total node order enumerates each triangle exactly once through
    the wedge join; degree order additionally bounds per-source wedge
    fan-out under hub skew (compact-forward, O(E^1.5) total wedges).
    Degree table is O(|V|) and broadcasts onto both endpoints.
    """
    deg = (
        half.select(F.col("src").alias("node"))
        .unionAll(half.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ds = F.broadcast(
        deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc"))
    )
    dd = F.broadcast(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst"))
    )
    swap = (F.col("ddst") < F.col("dsrc")) | (
        (F.col("ddst") == F.col("dsrc")) & (F.col("dst") < F.col("src"))
    )
    return (
        half.join(ds, "src")
        .join(dd, "dst")
        .select(
            F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
        )
    )


@register(
    "q_triangle_count",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  tri AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM __half e1
    JOIN __half e2 ON e2.src = e1.dst
    JOIN __half e3 ON e3.src = e1.src AND e3.dst = e2.dst
  )
  SELECT node AS part_id, count(*) AS n_triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri)
  GROUP BY node
""",
    doc="Per-node triangle counting on the part co-order graph: edges "
    "DEGREE-ordered (orient low-(deg,id) -> high) so each triangle is "
    "enumerated exactly once by the wedge join (e1.dst = e2.src) closed "
    "against the edge set, and per-source wedge fan-out is bounded "
    "under any skew — total wedge work O(E^1.5) (the compact-forward "
    "algorithm). The oracle keeps the id orientation: the triangle set "
    "is orientation-invariant, so matching outputs PROVE the "
    "equivalence. Edge list is broadcast on both probe sides — one "
    "shuffle total (the count).",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half0 = _co_order_half_edges(li)
    # DEGREE-ordered orientation (not id order): orient every edge from
    # the (degree, id)-smaller endpoint to the larger one.  Any total
    # order enumerates each triangle exactly once through the wedge
    # join, but degree order bounds per-source wedge fan-out by
    # sqrt(|E|)-ish, making wedge count O(E^1.5) REGARDLESS of skew —
    # an id ordering lets one hub node generate O(deg^2) wedges.  The
    # triangle set (and so every per-node count) is orientation-
    # invariant, which the unchanged id-oriented DuckDB oracle proves.
    half = cut(orient_by_degree(half0), "q_triangle_count.half")
    e1 = half.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = half.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = half.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy(F.col("node").alias("part_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


_LPA_ITERS = 2


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out}_n AS (
    SELECT e.dst AS id, l.label, count(*) AS cnt
    FROM __full e JOIN {prev} l ON l.id = e.src
    GROUP BY e.dst, l.label
  ),
  {out}_w AS (
    SELECT id, label, row_number() OVER (
      PARTITION BY id ORDER BY cnt DESC, label) AS rn
    FROM {out}_n
  ),
  {out} AS (
    SELECT n.id, coalesce(w.label, n.id) AS label
    FROM __nodes n
    LEFT JOIN {out}_w w ON w.id = n.id AND w.rn = 1
  )"""


#: full 2-iteration rebuild on the whole lineitem table — the oracle for
#: BOTH q_label_propagation and q_incremental_label_propagation (the
#: incremental gate is "maintenance ≡ rebuild", as for PageRank)
LABEL_PROPAGATION_SQL = f"""
  WITH {_CO_ORDER_HALF_SQL},
  __full AS (
    SELECT src, dst FROM __half
    UNION ALL SELECT dst AS src, src AS dst FROM __half
  ),
  __nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
  __l0 AS (SELECT id, id AS label FROM __nodes),
  {_lpa_iter_sql("__l0", "__l1")},
  {_lpa_iter_sql("__l1", "__l2")}
  SELECT id AS part_id, label AS community FROM __l2
"""


def _lpa_min_label(edges: DataFrame) -> DataFrame:
    """LPA level 1 in closed form over directed (src, dst) rows: the
    initial labels are the node ids, so every neighbor label is distinct
    (cnt = 1 on a deduped edge list) and the (count desc, label asc)
    modal winner is the minimum neighbor id — one partial-agg min, no
    broadcast, no histogram."""
    return edges.groupBy(F.col("dst").alias("id")).agg(
        F.min("src").alias("label")
    )


def _lpa_vote(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One LPA level over directed (src, dst) rows: every dst adopts the
    modal label of its senders under ``labels`` (id, label; O(|V|),
    broadcast), ties broken by (count desc, label asc).  The winner is a
    partial-aggregable ``max_by`` on (cnt, -label) — the same
    deterministic winner as a rank window, with no per-node sort, and
    the second shuffle moves one candidate per (map partition, node)
    instead of the full histogram."""
    return (
        edges.join(F.broadcast(labels.withColumnRenamed("id", "src")), "src")
        .groupBy(F.col("dst").alias("id"), "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("id")
        .agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), -F.col("label"))
            ).alias("label")
        )
    )


def _lpa_result(rows: DataFrame, final: DataFrame) -> DataFrame:
    """The published communities: every part in ``rows`` (any frame
    with ``l_partkey``) joined to the final level; isolated parts keep
    their own id."""
    nodes = rows.select(F.col("l_partkey").alias("id")).distinct()
    return nodes.join(final, "id", "left").select(
        F.col("id").alias("part_id"),
        F.coalesce("label", "id").alias("community"),
    )


def lpa_seed_levels(half: DataFrame) -> tuple:
    """Stored LPA state for a checkpointed half edge list, computed in
    full: (level-1, level-2) label vectors, each a ``lineage.cut`` — the
    seed of the incremental query, the streaming twin and the sparse
    probe.  Invariant: equal to :func:`q_label_propagation`'s levels on
    the same graph (same :func:`_lpa_min_label` / :func:`_lpa_vote`).
    Measured against seeding through :func:`lpa_patch_levels` from
    empty state at sf0.1 on 4 cores (base co-order graph, edge
    generation included, interleaved, min of 5): 2.43 s / 12 jobs here
    vs 3.61 s / 26 jobs."""
    edges = _directed_half(half)
    l1 = cut(_lpa_min_label(edges), "lpa_seed_levels.l1")
    return l1, cut(_lpa_vote(edges, l1), "lpa_seed_levels.l2")


@register(
    "q_label_propagation",
    LABEL_PROPAGATION_SQL,
    doc=f"Label propagation community detection ({_LPA_ITERS} synchronous "
    "iterations) on the part co-order graph: each node adopts its "
    "neighbors' modal label with a deterministic (count desc, label "
    "asc) tiebreak, isolated nodes keep their own id. Per iteration: "
    "one shuffle on dst for the label histogram and a partial-agg "
    "max_by for the winner (no per-node sort window); the O(|V|) label "
    "vector broadcasts back over the checkpointed edge list, so "
    "iterations never reshuffle the O(|E|) edges. Iteration 1 is the "
    "closed-form min-neighbor (initial labels all distinct) and the "
    "isolated-node completion happens once at the end — undirected "
    "graph, so every sender also receives.",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    # checkpoint the HALF list and derive both directions per pass:
    # materializing the doubled list stores 2× the rows for zero
    # per-iteration saving.  Undirected graph ⇒ every label-sender also
    # receives, so the loop carries labels for edge-touching nodes only
    edges = _directed_half(
        cut(_co_order_half_edges(li), "q_label_propagation.edges")
    )
    labels = _lpa_min_label(edges)
    for _ in range(_LPA_ITERS - 1):
        labels = _lpa_vote(edges, labels)
    return _lpa_result(li, labels)


def incremental_label_propagation(li: DataFrame, delta_cond) -> DataFrame:
    """Delta-edge LPA maintenance — the integer twin of
    :func:`incremental_pagerank`, one level cheaper because labels carry
    no degree coupling.

    An ingest only ADDS co-order edges (pair weights only grow, so the
    ≥2 floor is monotone: a pair crossing the threshold via a delta
    order shows up as a new edge).  Level-1 labels (min neighbor id)
    change ONLY at new-edge endpoints — S1 = seeds, no expansion — and
    level-2 modal labels only at S1 ∪ N(S1).  Every patched node
    re-aggregates over ALL its in-edges with the same
    :func:`_lpa_min_label` / :func:`_lpa_vote`, unaffected nodes keep
    stored labels the rebuild would recompute from identical integer
    inputs, so the oracle (full 2-iteration rebuild) matches exactly.

    Stored state: :func:`co_order_state` — the RAW pair-weight table
    (counts from disjoint order sets are additive, so later ingests
    append) and the directed adjacency as bucketed segments — and the
    :func:`lpa_seed_levels` label vectors.
    The ingest is delta-sized end to end: the delta's own pair counts,
    a floor-crossing check that reads ONLY the delta pairs' weight
    buckets (:func:`co_order_new_edges`), and blast-radius re-votes
    through pruned adjacency scans (:func:`lpa_patch_levels`)."""
    import shutil
    import tempfile

    spark = li.sparkSession
    base_li = li.filter(~delta_cond)
    root = tempfile.mkdtemp(prefix="spark_graft_inclpa_")
    try:
        store, base_half = co_order_state(base_li, root)
        l1_base, l2_base = lpa_seed_levels(base_half)
        dw = cut(
            _co_order_pair_counts(li.filter(delta_cond)),
            "incremental_label_propagation.dw",
        )
        new_half = co_order_new_edges(spark, store.dirs("weights"), dw)
        _l1, l2 = lpa_patch_levels(
            spark, store.dirs("adj"), l1_base, l2_base, new_half
        )
        # l2 is lazy over checkpointed pieces only — never re-reads the
        # tmpdir the finally removes, and the final plan keeps the
        # partial_max_by re-vote visible for the PLANS.md gate
        return _lpa_result(li, l2)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def lpa_patch_levels(
    spark: SparkSession,
    adj_dirs: list,
    l1_base: DataFrame,
    l2_base: DataFrame,
    new_half: DataFrame,
    obs: dict | None = None,
) -> tuple:
    """The incremental-LPA PATCH kernel: given stored (``adj_dirs``
    adjacency segments, level-1, level-2 label vectors) and an ingest's
    checkpointed ``new_half`` edges, the new edges' endpoints S1 re-take
    their min-neighbor label (:func:`_lpa_min_label`) and the 1-hop ball
    S2 = S1 ∪ N(S1) re-votes the mode (:func:`_lpa_vote`); composes
    across ingests by induction.

    Same pruned layout as :func:`pagerank_patch_levels`: in-edge
    gathers are reversed rows of one :func:`read_pruned` of the
    frontier's buckets, never a full edge-list join, and the read of
    S1's buckets serves both the level-1 re-take (reversed) and the S2
    expansion (its dst column).  Returns (l1_full, l2_full); l1_full is
    checkpointed, l2_full is a lazy union over checkpointed pieces only
    (its gather rows are checkpointed inside), so it is safe to publish
    after the adjacency dirs are gone AND the final plan keeps the
    partial_max_by re-vote visible for the plan gate.  ``obs`` receives
    ``n_new_edges`` and ``n_patched``.

    Measured (r14 sparse probe, ×10 co-order graph on 32 cores): 10.7 /
    6.9 / 5.9 s per ingest at 10% / 1% / 0.1% deltas."""
    new_rows = _directed_half(new_half)
    s1 = _seed_ids(new_half)
    out1 = cut(
        _read_adj(spark, adj_dirs, s1, new_rows), "lpa_patch_levels.out1"
    )
    l1_full = cut(
        l1_base.join(s1, "id", "left_anti")
        .unionAll(_lpa_min_label(_reversed(out1))),
        "lpa_patch_levels.l1_full",
    )
    s2 = cut(
        s1.unionAll(out1.select(F.col("dst").alias("id")))
        .distinct(),
        "lpa_patch_levels.s2",
    )
    # checkpointed (blast-radius-sized): frees l2_full, and the final
    # plan's max_by, from any reference to the adjacency dirs
    in2 = _reversed(
        cut(_read_adj(spark, adj_dirs, s2, new_rows), "lpa_patch_levels.in2")
    )
    l2_full = l2_base.join(s2, "id", "left_anti").unionAll(
        _lpa_vote(in2, l1_full)
    )
    if obs is not None:
        obs["n_new_edges"] = new_half.count()
        obs["n_patched"] = s2.count()
    return l1_full, l2_full


@register(
    "q_incremental_label_propagation",
    LABEL_PROPAGATION_SQL,
    doc="Incremental label-propagation maintenance: a simulated ingest "
    "delta (l_orderkey % 10 = 7) adds co-order edges (including pairs "
    "the delta pushes over the ≥2 weight floor); only new-edge "
    "endpoints re-take their min-neighbor label and only their 1-hop "
    "ball re-votes the modal label — every other node keeps its stored "
    "per-iteration label. The ORACLE is the full 2-iteration rebuild "
    "on the merged graph, so the gate proves maintenance ≡ rebuild "
    "(exact, pure integer ops). Completes the incremental-ingest "
    "pattern across the graph family with q_incremental_pagerank; "
    "blast-radius analysis on incremental_label_propagation.",
)
def q_incremental_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return incremental_label_propagation(li, F.col("l_orderkey") % 10 == 7)


_BFS_HOPS = 3


@register(
    "q_bfs_hops",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  __full AS (
    SELECT src, dst FROM __half
    UNION ALL SELECT dst AS src, src AS dst FROM __half
  ),
  __seed AS (SELECT min(l_partkey) AS id FROM lineitem),
  __d1 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __seed s ON f.src = s.id),
  __d2 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __d1 d ON f.src = d.id),
  __d3 AS (
    SELECT DISTINCT f.dst AS id FROM __full f JOIN __d2 d ON f.src = d.id)
  SELECT id AS part_id, min(h) AS hops FROM (
    SELECT id, 0 AS h FROM __seed
    UNION ALL SELECT id, 1 AS h FROM __d1
    UNION ALL SELECT id, 2 AS h FROM __d2
    UNION ALL SELECT id, 3 AS h FROM __d3)
  GROUP BY id
""",
    doc=f"Breadth-first hop distance (<= {_BFS_HOPS} hops) from the "
    "lowest part id over the part co-order graph: per level, the "
    "frontier broadcasts against the checkpointed edge list (frontier "
    "is O(|V|), edges never move), reached nodes accumulate as (id, "
    "level) and the final min-aggregate resolves multi-path visits. "
    "The unrolled-level form is exactly what an iterative distributed "
    "BFS computes level-synchronously at scale.",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    edges = cut(_directed_half(_co_order_half_edges(li)), "q_bfs_hops.edges")
    seed = li.agg(F.min("l_partkey").alias("id"))
    levels = [seed.withColumn("h", F.lit(0))]
    frontier = seed
    for lvl in range(1, _BFS_HOPS + 1):
        frontier = (
            edges.join(
                F.broadcast(frontier.withColumnRenamed("id", "src")).select(
                    "src"
                ),
                "src",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        levels.append(frontier.withColumn("h", F.lit(lvl)))
    reached = levels[0]
    for lv in levels[1:]:
        reached = reached.unionAll(lv.select("id", "h"))
    return reached.groupBy(F.col("id").alias("part_id")).agg(
        F.min("h").alias("hops")
    )


_COSINE_TOPK = 100
#: pair generation is C(|basket|, 2) per order — unbounded baskets make a
#: single pathological row explode O(b²) pairs, so baskets are capped at
#: the 64 smallest part keys (deterministic).  TPC-H-shaped orders hold
#: ≤7 lines, so the cap never fires on real-distribution data — it is a
#: robustness bound, not a sampling approximation.  Per-item counts stay
#: uncapped (the cosine denominator is the true vector norm).
_BASKET_CAP = 64


@register(
    "q_item_cosine",
    f"""
  WITH __oi AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  ),
  __oc AS (
    SELECT l_orderkey, l_partkey FROM (
      SELECT l_orderkey, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_partkey) AS rn
      FROM __oi)
    WHERE rn <= {_BASKET_CAP}
  ),
  __ni AS (
    SELECT l_partkey, count(*) AS n FROM __oi GROUP BY 1
  ),
  __pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
    FROM __oc a JOIN __oc b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
  )
  SELECT part_a, part_b, n_co,
         round(n_co / sqrt(na.n * nb.n), 6) AS cosine
  FROM __pairs
  JOIN __ni na ON na.l_partkey = part_a
  JOIN __ni nb ON nb.l_partkey = part_b
  ORDER BY round(n_co / sqrt(na.n * nb.n), 6) DESC, part_a, part_b
  LIMIT {_COSINE_TOPK}
""",
    doc=f"Item-item collaborative-filtering scores: cosine similarity "
    "over co-purchase vectors, cos(i,j) = n_ij / √(n_i·n_j), top-"
    f"{_COSINE_TOPK} with a total-order tiebreak. Co-occurrence pairs "
    "come from the per-order collect_set explode (never a row-level "
    f"self-join) with baskets capped at the {_BASKET_CAP} smallest part "
    "keys — pair fan-out per order is bounded O(cap²) even under "
    "pathological baskets — the per-item order counts broadcast back "
    "over the ≥2-support pairs, and the top-k is TakeOrderedAndProject "
    "— no global sort. ×10 probe ~3× is healthy linear pair volume "
    "(disjoint-key replicas keep basket sizes constant) saturating the "
    "fan-out stage, not superlinear growth. The classic 'customers "
    "also bought' precompute at catalog scale.",
)
def q_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    oi = li.select("l_orderkey", "l_partkey").distinct()
    ni = oi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    sets = _fanout_repartition(
        oi.groupBy("l_orderkey").agg(
            # sort_array ascending + slice = the row_number()<=cap
            # smallest part keys, matching the oracle's deterministic cap
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, _BASKET_CAP
            ).alias("ps")
        ),
        "l_orderkey",
    )
    pairs = (
        ordered_pairs(sets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    na = F.broadcast(ni.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na")))
    nb = F.broadcast(ni.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")))
    scored = (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.round(
                F.col("n_co") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), "part_a", "part_b"
    ).limit(_COSINE_TOPK)


_SSSP_ROUNDS = 3

#: weighted co-order edges: weight 1/n_co (stronger co-occurrence = closer)
_WEIGHTED_EDGES_SQL = """
  __whalf AS (
    SELECT src, dst, 1.0 / count(*) AS w FROM (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey)
    GROUP BY src, dst
    HAVING count(*) >= 2
  ),
  __wfull AS (
    SELECT src, dst, w FROM __whalf
    UNION ALL SELECT dst AS src, src AS dst, w FROM __whalf
  )"""


def _sssp_iter_sql(prev: str, out: str) -> str:
    return f"""
  {out} AS (
    SELECT id, min(d) AS d FROM (
      SELECT id, d FROM {prev}
      UNION ALL
      SELECT e.dst AS id, p.d + e.w AS d
      FROM {prev} p JOIN __wfull e ON e.src = p.id)
    GROUP BY id
  )"""


@register(
    "q_shortest_path",
    f"""
  WITH {_WEIGHTED_EDGES_SQL},
  __seed AS (SELECT min(l_partkey) AS id, 0.0 AS d FROM lineitem),
  {_sssp_iter_sql("__seed", "__d1")},
  {_sssp_iter_sql("__d1", "__d2")},
  {_sssp_iter_sql("__d2", "__d3")}
  SELECT id AS part_id, round(d, 6) AS dist FROM __d3
""",
    doc=f"Weighted single-source shortest path ({_SSSP_ROUNDS} Bellman-"
    "Ford relaxation rounds, min-plus semiring) from the lowest part id "
    "over the co-order graph, edge weight 1/co-order-count. Per round: "
    "the O(|reached|) distance vector broadcasts over the checkpointed "
    "edge list, relaxed candidates union with current distances, one "
    "min-aggregate shuffle. Identical structure to the level-"
    "synchronous BFS but on a semiring — the template for any "
    "fixed-round iterative graph metric at 100 TB (edges never move; "
    "only the frontier vector does).",
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half = _co_order_half_edges(li, weighted=True)
    edges = cut(
        half.unionAll(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        ),
        "q_shortest_path.edges",
    )
    dist = li.agg(F.min("l_partkey").alias("id")).withColumn(
        "d", F.lit(0.0)
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = (
            edges.join(
                F.broadcast(dist.withColumnRenamed("id", "src")), "src"
            )
            .select(F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = (
            dist.select("id", "d")
            .unionAll(relaxed)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
    return dist.select(
        F.col("id").alias("part_id"), F.round("d", 6).alias("dist")
    )


@register(
    "q_degree_distribution",
    f"""
  WITH {_CO_ORDER_HALF_SQL},
  __deg AS (
    SELECT node, count(*) AS deg FROM (
      SELECT src AS node FROM __half
      UNION ALL SELECT dst AS node FROM __half)
    GROUP BY node
  )
  SELECT CAST(floor(ln(CAST(deg AS DOUBLE)) / ln(2.0)) AS BIGINT)
           AS log2_bucket,
         count(*) AS n_nodes,
         CAST(min(deg) AS BIGINT) AS min_deg,
         CAST(max(deg) AS BIGINT) AS max_deg
  FROM __deg GROUP BY 1
""",
    doc="Log2-binned degree distribution of the part co-order graph — "
    "the skew diagnostic run before any iterative graph job: a heavy "
    "tail here predicts hot reducers in message-passing (mitigation: "
    "high-degree-vertex mirroring / degree-ordered orientation). Degree "
    "per node is one count shuffle over the edge list; the histogram "
    "aggregates the O(|V|) degree table.",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    half = _co_order_half_edges(li)
    deg = (
        half.select(F.col("src").alias("node"))
        .unionAll(half.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    bucket = F.floor(
        F.log(F.col("deg").cast("double")) / F.log(F.lit(2.0))
    ).cast("bigint")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )
