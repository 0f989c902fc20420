"""Invariants for the graph / training-set-assembly operators."""

import pytest
from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.registry import all_queries
from end_to_end_datapipeline_project_spark.state import StateStore

SF = "/root/testdata/sf0.001"


def test_pagerank_conserves_mass_and_is_positive(spark):
    """With every node having out-edges (co-supply graph is symmetric),
    rank mass is conserved: sum(pr) == n_nodes (damping redistributes but
    never destroys). Every rank is >= 0.15 (the teleport floor)."""
    rows = all_queries()["q_pagerank"](spark, SF).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pagerank for r in rows)
    assert abs(total - n) < 1e-3 * n
    assert all(r.pagerank >= 0.15 for r in rows)


def test_pagerank_ranks_every_supplier_null_keys_included(spark):
    """Every supplier of lineitem is a node, as in the oracle's
    ``DISTINCT l_suppkey``: an isolated supplier, a supplier seen only
    with a null part key, and the null supplier itself each take 0.15;
    a null part key links no one."""
    from end_to_end_datapipeline_project_spark.graph import pagerank

    li = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 13), (None, 12), (None, 14), (3, None), (3, 15)],
        "l_partkey long, l_suppkey long",
    )
    got = {tuple(r) for r in pagerank(li).collect()}
    assert got == {
        (10, 1.0), (11, 1.0), (12, 0.15), (13, 0.15), (14, 0.15),
        (15, 0.15), (None, 0.15),
    }


def test_train_test_split_is_deterministic_and_partitions(spark):
    q = all_queries()["q_train_test_split"]
    a = {(r.doc_id, r.split) for r in q(spark, SF).collect()}
    b = {(r.doc_id, r.split) for r in q(spark, SF).collect()}
    assert a == b  # reproducible across runs
    by_split = {}
    for _, s in a:
        by_split[s] = by_split.get(s, 0) + 1
    assert set(by_split) <= {"train", "val", "test"}
    # ~90/5/5: train must dominate
    assert by_split["train"] > 0.8 * len(a)


def test_build_vocab_ids_are_contiguous_frequency_ranked(spark):
    rows = all_queries()["q_build_vocab"](spark, SF).collect()
    rows.sort(key=lambda r: r.token_id)
    assert [r.token_id for r in rows] == list(range(1, len(rows) + 1))
    # non-increasing frequency; ties broken by token ascending
    for prev, cur in zip(rows, rows[1:]):
        assert (
            prev.n_occurrences > cur.n_occurrences
            or (
                prev.n_occurrences == cur.n_occurrences
                and prev.token < cur.token
            )
        )


def test_unigram_logprob_bounds(spark):
    """Mean log-prob is <= 0 always, and == 0 only if a doc's every token
    covers the whole corpus (impossible with >1 distinct token)."""
    rows = all_queries()["q_unigram_logprob"](spark, SF).collect()
    assert rows and all(r.avg_logprob <= 0.0 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)


def test_sorted_neighborhood_candidates_bounded(spark):
    """Each doc can pair with at most w-1 successors → |pairs| <= n*(w-1);
    and every emitted pair respects the rank-gap bound."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import SN_WINDOW

    docs_n = spark.read.parquet(f"{SF}/documents.parquet").count()
    rows = all_queries()["q_sorted_neighborhood"](spark, SF).collect()
    assert len(rows) <= docs_n * (SN_WINDOW - 1)
    assert all(1 <= r.rank_gap <= SN_WINDOW - 1 for r in rows)
    assert all(r.edit_dist >= 0 for r in rows)


def test_sorted_neighborhood_rank_matches_global_sort(spark):
    """The two-pass bucket-prefix-sum rank must equal a true global
    row_number over (probe, doc_id) — checked on a skewed synthetic df
    where one bucket holds most rows."""
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    df = spark.createDataFrame(
        [(i, "aaaa shared boilerplate " + str(i % 7)) for i in range(40)]
        + [(100 + i, chr(98 + i) + " unique") for i in range(10)],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = all_queries()["q_sorted_neighborhood"](spark, d)
        got = {(r.doc_a, r.doc_b, r.rank_gap) for r in out.collect()}
    # oracle: global sort in python
    rows = df.collect()
    probes = sorted(
        (r.text.lower().strip()[:24], r.doc_id) for r in rows
    )
    expect = set()
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(
                    min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    w = dedup.SN_WINDOW
    for i, (pa, ida) in enumerate(probes):
        for gap in range(1, w):
            if i + gap >= len(probes):
                break
            pb, idb = probes[i + gap]
            if lev(pa, pb) <= dedup.FUZZY_MAX_DIST:
                expect.add((ida, idb, gap))
    assert got == expect


def test_stream_dedup_matches_batch_distinct(spark):
    got = {
        (r.user_id, r.event_type)
        for r in all_queries()["q_stream_dedup"](spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    expect = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == expect


def test_disjunctive_pushdown_reaches_scan(spark):
    """The OR predicate must factor into per-side pushed filters — the
    lineitem scan shows a quantity range, the part scan a brand/size
    constraint (PushedFilters in the formatted plan)."""
    df = all_queries()["q_disjunctive_pushdown"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # implied per-side ranges factored out of the disjunction
    assert "l_quantity" in plan.split("PushedFilters")[1][:400] or (
        "GreaterThanOrEqual(l_quantity" in plan
    )


def test_triangle_counts_are_consistent(spark):
    """Sum of per-node triangle counts = 3 * number of triangles, and every
    count is positive (nodes enter the result only via a triangle)."""
    rows = all_queries()["q_triangle_count"](spark, SF).collect()
    assert rows, "co-order graph at sf0.001 must contain triangles"
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0
    assert all(r.n_triangles > 0 for r in rows)


def test_label_propagation_labels_are_node_ids(spark):
    """Every community label is itself a node id, and there are fewer (or
    equal) communities than nodes."""
    rows = all_queries()["q_label_propagation"](spark, SF).collect()
    ids = {r.part_id for r in rows}
    labels = {r.community for r in rows}
    assert labels <= ids
    assert len(labels) <= len(ids)


def test_bfs_hops_levels_are_connected(spark):
    """Hop levels start at 0 (exactly one seed) and are contiguous."""
    rows = all_queries()["q_bfs_hops"](spark, SF).collect()
    by_hop = {}
    for r in rows:
        by_hop[r.hops] = by_hop.get(r.hops, 0) + 1
    assert by_hop.get(0) == 1
    assert set(by_hop) == set(range(max(by_hop) + 1))


def test_pii_scrub_redacts_everything(spark):
    """Injected PII is always detected (>=1 of each kind) and never
    survives scrubbing (signatures exist for every doc)."""
    rows = all_queries()["q_pii_scrub"](spark, SF).collect()
    assert rows
    assert all(r.n_emails >= 1 and r.n_ips >= 1 and r.n_phones >= 1 for r in rows)
    assert all(r.scrub_sig and len(r.scrub_sig) == 32 for r in rows)


def test_quality_classifier_scores_are_probabilities(spark):
    rows = all_queries()["q_quality_classifier"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert r.keep == (r.quality_score >= 0.5)


def test_oov_rate_bounds_and_token_totals(spark):
    rows = all_queries()["q_oov_rate"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert abs(r.oov_rate - r.n_oov / r.n_tokens) < 1e-6


def test_shortest_path_distances_valid(spark, sf_dir):
    import pyspark.sql.functions as F

    from end_to_end_datapipeline_project_spark.graph import q_shortest_path
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    rows = {r.part_id: r.dist for r in q_shortest_path(spark, sf_dir).collect()}
    seed = (
        read_parquet_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey"))
        .collect()[0][0]
    )
    assert rows[seed] == 0.0
    assert all(d >= 0.0 for d in rows.values())
    # every non-seed reached node is at most 3 edges away, each edge
    # weight <= 0.5 (support floor of 2) => dist <= 1.5
    assert all(d <= 1.5 for d in rows.values())


def test_degree_orientation_bounds_wedges_under_skew(spark):
    """On a hub graph, id-ordered orientation makes the hub a wedge
    factory (O(deg^2)); degree order pushes the hub to the sink side.
    Measured here, not just claimed."""
    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark.graph import orient_by_degree

    # star with the hub id in the MIDDLE of the id range: under id
    # orientation half the leaves point into the hub and half out, so
    # the hub becomes a path-wedge middle with in*out = 30*30 wedges
    hub = 30
    leaves = [i for i in range(61) if i != hub]
    hub_edges = [tuple(sorted((hub, i))) for i in leaves]
    half = spark.createDataFrame(hub_edges, "src long, dst long")

    def wedges(edges):
        e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        return e1.join(e2, "b").count()

    assert wedges(half) == 30 * 30  # id orientation: hub is a wedge middle
    oriented = orient_by_degree(half)
    # degree orientation: every leaf (deg 1) points AT the hub (deg 60),
    # so the hub has no outgoing edges and is never a wedge middle
    assert wedges(oriented) == 0
    # and the edge SET is unchanged as an undirected graph
    undirected = {
        tuple(sorted(r)) for r in oriented.select("src", "dst").collect()
    }
    assert undirected == {tuple(sorted(e)) for e in hub_edges}


def test_incremental_pagerank_equals_rebuild(spark):
    """Maintenance ≡ rebuild, bit-for-bit, on the real table (sf0.001),
    on a hand graph where the delta bridges two components and
    introduces a brand-new node — the corners where a wrong blast
    radius or a stale stored rank would diverge — and on an edgeless
    base, where the stored adjacency segment is empty."""
    from end_to_end_datapipeline_project_spark.graph import (
        incremental_pagerank,
        pagerank,
    )
    from end_to_end_datapipeline_project_spark.sources import (
        read_parquet_table,
    )

    li = read_parquet_table(spark, SF, "lineitem")
    inc = sorted(
        map(
            tuple,
            incremental_pagerank(
                li, F.col("l_orderkey") % 10 == 7
            ).collect(),
        )
    )
    assert inc == sorted(map(tuple, pagerank(li).collect()))

    # two base components {1,2} (part 100) and {3,4} (part 200); delta
    # order 17 makes supplier 2 co-supply part 200 (bridging both) and
    # adds brand-new supplier 9 on part 300 with supplier 4
    rows = [
        (1, 100, 1), (1, 100, 2),          # base: 1—2
        (2, 200, 3), (2, 200, 4),          # base: 3—4
        (17, 200, 2),                      # delta: 2—3, 2—4
        (17, 300, 9), (3, 300, 4),         # delta: new node 9—4
    ]
    mini = spark.createDataFrame(
        [(ok, pk, sk, 1) for ok, pk, sk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    )
    got = sorted(
        map(
            tuple,
            incremental_pagerank(
                mini, F.col("l_orderkey") % 10 == 7
            ).collect(),
        )
    )
    assert got == sorted(map(tuple, pagerank(mini).collect()))
    assert {t[0] for t in got} == {1, 2, 3, 4, 9}

    # edgeless base: one supplier per part; every edge arrives with
    # delta order 17 (1—2 on part 100, 2—3 and a new node 5 on part 300)
    rows = [
        (1, 100, 1), (2, 200, 2), (3, 300, 3),
        (17, 100, 2), (17, 300, 2), (17, 300, 5),
    ]
    edgeless = spark.createDataFrame(
        [(ok, pk, sk, 1) for ok, pk, sk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    )
    got = sorted(
        map(
            tuple,
            incremental_pagerank(
                edgeless, F.col("l_orderkey") % 10 == 7
            ).collect(),
        )
    )
    assert got == sorted(map(tuple, pagerank(edgeless).collect()))
    assert {t[0] for t in got} == {1, 2, 3, 5}


def test_incremental_label_propagation_equals_rebuild(spark):
    """Maintenance ≡ rebuild on the real table AND on a hand graph
    where the delta pushes a weight-1 pair over the ≥2 co-order floor
    (the monotone-threshold corner) and introduces brand-new nodes."""
    from end_to_end_datapipeline_project_spark.graph import (
        incremental_label_propagation,
    )
    from end_to_end_datapipeline_project_spark.registry import REGISTRY, _load
    from end_to_end_datapipeline_project_spark.sources import (
        read_parquet_table,
    )

    _load()
    full_lpa = REGISTRY["q_label_propagation"].spark_fn

    li = read_parquet_table(spark, SF, "lineitem")
    cond = F.col("l_orderkey") % 10 == 7
    inc = sorted(
        map(tuple, incremental_label_propagation(li, cond).collect())
    )
    assert inc == sorted(map(tuple, full_lpa(spark, SF).collect()))

    # base: 10—20 at weight 2; (20,30) at weight 1 (below the floor);
    # delta order 17 lifts (20,30) to weight 2, and delta orders 27/37
    # create a brand-new weight-2 edge 40—50
    rows = [
        (1, 10), (1, 20), (2, 10), (2, 20),
        (3, 20), (3, 30),
        (17, 20), (17, 30),
        (27, 40), (27, 50), (37, 40), (37, 50),
    ]
    mini = spark.createDataFrame(
        [(ok, pk, 1, 1) for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    )
    def rebuild(frame):
        # inline 2-iteration rebuild through the same public pieces the
        # registered query uses (no sf_dir for an in-memory frame)
        from end_to_end_datapipeline_project_spark.graph import (
            _co_order_half_edges,
        )

        half = _co_order_half_edges(frame)
        edges = half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint()
        l1 = edges.groupBy(F.col("dst").alias("id")).agg(
            F.min("src").alias("label")
        )
        l2 = (
            edges.join(F.broadcast(l1.withColumnRenamed("id", "src")), "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("id")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), -F.col("label"))
                ).alias("label")
            )
        )
        nodes = frame.select(F.col("l_partkey").alias("id")).distinct()
        return nodes.join(l2, "id", "left").select(
            F.col("id").alias("part_id"),
            F.coalesce("label", "id").alias("community"),
        )

    got = sorted(
        map(tuple, incremental_label_propagation(mini, cond).collect())
    )
    want = sorted(map(tuple, rebuild(mini).collect()))
    assert got == want
    assert {t[0] for t in got} == {10, 20, 30, 40, 50}
    by_id = dict(got)
    # the threshold-crossing edge made 30 vote: its only neighbor 20
    # carries l1=10, so 30 lands in 10's community, not its own
    assert by_id[30] == 10

    # edgeless base: one part per order, so the stored weight and
    # adjacency segments are empty; every edge arrives with delta orders
    # 17 and 27 (a pair needs two orders to pass the ≥2 floor): the
    # triangle 10—20—30 plus brand-new part 60
    rows = [
        (1, 10), (2, 20), (3, 30), (4, 40),
        (17, 10), (17, 20), (17, 30), (17, 60),
        (27, 10), (27, 20), (27, 30), (27, 60),
    ]
    edgeless = spark.createDataFrame(
        [(ok, pk, 1, 1) for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    )
    got = sorted(
        map(tuple, incremental_label_propagation(edgeless, cond).collect())
    )
    assert got == sorted(map(tuple, rebuild(edgeless).collect()))
    assert {t[0] for t in got} == {10, 20, 30, 40, 60}


def test_read_pruned_plan_prunes_and_gates_broadcast(spark, tmp_path):
    """The incremental graph kernels' load-bearing scale properties, on
    segments written through StateStore: (a) a pruned read shows
    PartitionFilters on __bkt — patch scans read the keys' buckets,
    never the full table — for the one-column adjacency key and the
    two-column (src, dst) weight key; (b) the key semi-join broadcasts
    below FRONTIER_BCAST_MAX and falls back to a shuffle join above it
    (instead of OOMing a real driver on a saturated multi-hop
    frontier); (c) the no-segments/no-extra-rows corner returns an
    empty frame instead of raising."""
    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark import graph

    half = spark.range(2000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    counts = half.withColumn("n_co", F.col("src") % 3)
    store = StateStore(str(tmp_path / "st"))
    store.commit(
        0,
        append={
            "adj": graph.adj_rows(half),
            "weights": graph.bucketed(counts, "src", "dst"),
        },
        partition_by={"adj": ["__bkt"], "weights": ["__bkt"]},
    )
    adj, weights = store.dirs("adj"), store.dirs("weights")
    ADJ, WEIGHTS = "src long, dst long", "src long, dst long, n_co long"
    ids = spark.range(40).select(F.col("id").alias("src")).localCheckpoint()
    pairs = (
        spark.range(0, 2000, 50)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .localCheckpoint()
    )
    edges = [(i, i + 1) for i in range(2000)]
    want = {(s, d) for s, d in edges if s < 40}
    want |= {(d, s) for s, d in edges if d < 40}
    want_w = {(i, i + 1, i % 3) for i in range(0, 2000, 50)}

    def read(dirs, keys, schema):
        out = graph.read_pruned(spark, dirs, keys, schema)
        rows = {tuple(r) for r in out.collect()}
        qe = out._jdf.queryExecution()
        hinted = "strategy=broadcast" in qe.optimizedPlan().toString()
        return rows, qe.executedPlan().toString(), hinted

    rows, raw, hinted = read(adj, ids, ADJ)
    assert "PartitionFilters: [__bkt" in raw  # bucket pruning reached the scan
    assert "BroadcastHashJoin" in raw and "LeftSemi" in raw and hinted
    assert rows == want  # both orientations of every edge touching [0, 40)
    rows, raw, hinted = read(weights, pairs, WEIGHTS)
    assert "PartitionFilters: [__bkt" in raw
    assert "BroadcastHashJoin" in raw and "LeftSemi" in raw and hinted
    assert rows == want_w

    # (b) the over-threshold fallback: same rows, no broadcast hint on
    # the keys (AQE may still pick a broadcast from measured sizes; the
    # plan must not REQUIRE it)
    prev = graph.FRONTIER_BCAST_MAX
    graph.FRONTIER_BCAST_MAX = 0
    try:
        rows2, raw2, hinted2 = read(adj, ids, ADJ)
        rows2_w, raw2_w, hinted2_w = read(weights, pairs, WEIGHTS)
    finally:
        graph.FRONTIER_BCAST_MAX = prev
    assert rows2 == want and rows2_w == want_w
    assert not hinted2 and not hinted2_w
    for plan in (raw2, raw2_w):
        assert "CartesianProduct" not in plan
        assert "PartitionFilters: [__bkt" in plan

    # (c) degenerate corner: no segments, no extra rows
    empty = graph.read_pruned(spark, [], ids, ADJ)
    assert empty.columns == ["src", "dst"] and empty.count() == 0

    # conf scoping: the raised listing threshold never leaks, from the
    # pruned reader or from StateStore.read
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(key, None) is None
    store.read(spark, "adj").count()
    assert spark.conf.get(key, None) is None


def test_co_supply_half_pins_fanout_width(spark, monkeypatch):
    """r15: the (l_partkey, l_suppkey) distinct output is small enough
    that AQE's byte-based coalescing ran the C(k,2) pair-explosion
    self-join on a handful of cores; _co_supply_half must pin the join
    input width with a user REPARTITION_BY_NUM (which AQE respects).
    The lineage cut hides the construction plan, so the test replaces
    ``graph.cut`` with the identity for the shape assertion; row-level
    equivalence stays covered by the pagerank mass/strategy/
    incremental-rebuild pins."""
    from end_to_end_datapipeline_project_spark import graph

    li = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12)],
        "l_partkey long, l_suppkey long",
    )
    monkeypatch.setattr(graph, "cut", lambda df, label, **kw: df)
    half = graph._co_supply_half(li)
    plan = half._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" in plan
    rows = {(r.src, r.dst) for r in half.collect()}
    assert rows == {(10, 11), (10, 12), (11, 12)}
