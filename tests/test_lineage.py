"""The lineage cut (``lineage.cut``) and connected components: the Spark
loop whose convergence test rides it, and the driver path a small edge
list takes instead."""

import random

import pytest
from conftest import jobs_by_label, jobs_launched, spark_conf
from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark import lineage
from end_to_end_datapipeline_project_spark.llm_ops import dedup


_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
_BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def _rows_df(spark, n=50):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).repartition(4, "g")


def _counts():
    return [
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("g") < 3).alias("small"),
    ]


def test_cut_of_a_cut_launches_no_job(spark):
    ck = lineage.cut(_rows_df(spark), "test.once")
    assert lineage.is_cut(ck)
    box = {}
    again = lambda: box.setdefault("again", lineage.cut(ck, "test.twice"))
    assert jobs_launched(spark, again) == 0
    assert box["again"] is ck
    # a projection of a cut is a new plan: cutting it is a real cut
    assert not lineage.is_cut(ck.select("id"))


def test_observed_cut_costs_no_extra_job(spark):
    plain = jobs_launched(
        spark, lambda: lineage.cut(_rows_df(spark), "test.plain")
    )
    box = {}
    observed = jobs_launched(
        spark,
        lambda: box.setdefault(
            "r", lineage.cut(_rows_df(spark), "test.observed", observe=_counts())
        ),
    )
    assert plain > 0 and observed == plain
    ck, m = box["r"]
    assert m == {"n": 50, "small": 22}
    assert sorted(r.id for r in ck.collect()) == list(range(50))


def test_cut_labels_its_job_and_restores_the_description(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "outer")
    try:
        lineage.cut(_rows_df(spark), "test.labelled")
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    descs = set()
    for i in range(jobs.size()):
        d = jobs.apply(i).description()
        if d.isDefined():
            descs.add(d.get())
    assert "cut:test.labelled" in descs


def test_observed_metrics_fall_back_to_one_aggregate(spark, monkeypatch):
    """No metrics arriving must neither hang nor guess: the read waits
    its bound, then aggregates the cut frame in one job — same values."""
    _, want = lineage.cut(_rows_df(spark), "test.metrics", observe=_counts())

    class _Empty:
        def isDefined(self):
            return False

    monkeypatch.setattr(lineage, "_row_or_empty", lambda o: _Empty())
    monkeypatch.setattr(lineage, "OBSERVE_WAIT_S", 0.0)
    box = {}
    jobs = jobs_launched(
        spark,
        lambda: box.setdefault(
            "r", lineage.cut(_rows_df(spark), "test.fallback", observe=_counts())
        ),
    )
    plain = jobs_launched(
        spark, lambda: lineage.cut(_rows_df(spark), "test.plain")
    )
    assert box["r"][1] == want
    assert jobs > plain  # the fallback aggregate is a counted job

    # helper columns a cut drops are still there for the fallback
    helper = _rows_df(spark).withColumn("__h", F.col("g") + 1)
    ck, m = lineage.cut(
        helper,
        "test.fallback_drop",
        observe=[F.count_if(F.col("__h") < 4).alias("small")],
        drop=["__h"],
    )
    assert m == {"small": want["small"]} and ck.columns == ["id", "g"]

    # the pair gauge takes the same path
    obs = {}
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "doc_a long, doc_b long"
    )
    dedup.observe_pairs(cand, obs).collect()
    dedup.resolve_pair_counts(obs)
    assert obs["n_pairs_scored"] == 3


def _unset_checkpoint_dir(sc):
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def _which_checkpoint(spark, monkeypatch):
    """Record which DataFrame checkpoint method each cut calls."""
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    called = []
    for name in ("localCheckpoint", "checkpoint"):
        real = getattr(cls, name)

        def rec(self, *a, _real=real, _name=name, **k):
            called.append(_name)
            return _real(self, *a, **k)

        monkeypatch.setattr(cls, name, rec)
    return called


def test_off_a_local_master_a_file_default_fs_keeps_the_cut_local(
    spark, monkeypatch
):
    """``file:`` is each node's own disk on a cluster: with no checkpoint
    directory there, a cut stays local and sets no directory."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    monkeypatch.setattr(lineage, "is_local_master", lambda master: False)
    called = _which_checkpoint(spark, monkeypatch)
    ck, m = lineage.cut(_rows_df(spark), "test.file_fs", observe=_counts())
    assert called == ["localCheckpoint"]
    assert sc.getCheckpointDir() is None
    assert _hinted(ck)  # an eager local cut knows its stored size
    assert m == {"n": 50, "small": 22}
    assert sorted(r.id for r in ck.collect()) == list(range(50))


def test_off_a_local_master_a_shared_fs_gets_a_reliable_cut(
    spark, monkeypatch, tmp_path
):
    """On a shared default file system an application without a
    checkpoint directory gets one named after it, marked for deletion
    at JVM exit, and the cut is a reliable checkpoint stored there."""
    sc = spark.sparkContext
    real_fs = lineage._default_fs(sc)
    marked = []

    class _Shared:
        def getUri(self):
            class _U:
                def getScheme(self):
                    return "hdfs"

            return _U()

        def makeQualified(self, path):
            return real_fs.makeQualified(path)

        def deleteOnExit(self, path):
            marked.append(path.toString())
            return real_fs.deleteOnExit(path)

    monkeypatch.setattr(lineage, "is_local_master", lambda master: False)
    monkeypatch.setattr(lineage, "_default_fs", lambda sc: _Shared())
    monkeypatch.setattr(lineage, "CHECKPOINT_ROOT", str(tmp_path))
    called = _which_checkpoint(spark, monkeypatch)
    try:
        ck, m = lineage.cut(_rows_df(spark), "test.reliable", observe=_counts())
        root = tmp_path / sc.applicationId
        assert called == ["checkpoint"]
        assert not _hinted(ck)  # a reliable cut's size is not read
        assert marked == [f"file:{root}"]
        assert sc.getCheckpointDir().startswith(f"file:{root}/")
        assert m == {"n": 50, "small": 22}
        assert sorted(r.id for r in ck.collect()) == list(range(50))
        assert any(root.rglob("part-*"))  # the blocks went to the directory
        # a reliable cut keeps its partitioning as a local one does
        kept = lineage.cut(_grouped(spark), "test.reliable_by", by=("g",))
        assert called == ["checkpoint"] * 2
        assert _partitioning(kept).startswith("coalescedhashpartitioning(")
        assert not _exchanges(kept.groupBy("g").count())
        assert sorted(kept.collect()) == sorted(_grouped(spark).collect())
    finally:
        real_fs.cancelDeleteOnExit(real_fs.makeQualified(
            sc._jvm.org.apache.hadoop.fs.Path(str(tmp_path / sc.applicationId))
        ))
        _unset_checkpoint_dir(sc)


def test_lazy_cut_defers_materialization_and_refuses_metrics(spark):
    """A lazy cut stores nothing until the first action.  Under AQE its
    construction still runs the map stage of each exchange below it
    (one job for one groupBy); only an exchange-free plan builds with
    no job at all."""

    def checkpointed(df):
        return df._jdf.queryExecution().analyzed().rdd().isCheckpointed()

    box = {}
    plain = lambda: box.setdefault(
        "plain", lineage.cut(spark.range(50), "test.lazy", eager=False)
    )
    assert jobs_launched(spark, plain) == 0
    grouped = _rows_df(spark).groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    shuffled = lambda: box.setdefault(
        "grouped", lineage.cut(grouped, "test.lazy_exchange", eager=False)
    )
    assert jobs_launched(spark, shuffled) == 1
    for key, want in (("plain", 50), ("grouped", 7)):
        assert not checkpointed(box[key])
        assert box[key].count() == want
        assert checkpointed(box[key])
    with pytest.raises(ValueError):
        lineage.cut(_rows_df(spark), "test.lazy", observe=_counts(), eager=False)


def _checkpoint_sites(source: str) -> list:
    """Enclosing function of every ``localCheckpoint(`` / ``checkpoint(``
    method call."""
    import ast

    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        ):
            found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(source), None)
    return found


def test_no_raw_checkpoint_outside_cut():
    """Source-level tripwire: every lineage cut in the package goes
    through ``lineage.cut``."""
    from pathlib import Path

    assert _checkpoint_sites(
        "def f(d):\n d.localCheckpoint()\n d.x().checkpoint(eager=False)\n"
        " cut(d, 'x')\n"
    ) == ["f", "f"]
    pkg = Path(__file__).resolve().parents[1] / (
        "end_to_end_datapipeline_project_spark"
    )
    sites = []
    for py in sorted(pkg.rglob("*.py")):
        sites += [
            f"{py.name}:{fn}" for fn in _checkpoint_sites(py.read_text())
        ]
    assert sites == ["lineage.py:_checkpoint"] * 2, (
        f"raw checkpoints outside lineage.cut: {sites}"
    )


# --- connected components -------------------------------------------------


def _union_find(nodes, edges):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def _cc_reference(nodes, edges, max_iters):
    """The Spark loop's algorithm in Python (star contraction, then
    min-label steps with pointer jumping), stopping when the contraction
    leaves no edge (0 iterations) or at the first iteration that lowers
    no label: the labels after the loop and the iterations it ran."""
    node_set = set(nodes)
    es = [(a, b) for a, b in edges if a in node_set and b in node_set]
    es += [(b, a) for a, b in es]
    nbr_min = {}
    for a, b in es:
        nbr_min[a] = min(nbr_min.get(a, b), b)
    m = {v: min(v, nbr_min.get(v, v)) for v in nodes}
    cedges = {(m[a], m[b]) for a, b in es if m[a] != m[b]}
    label = {c: c for c in set(m.values())}
    iters = 0
    for _ in range(max_iters if cedges else 0):
        iters += 1
        prop = {}
        for a, b in cedges:
            prop[b] = min(prop.get(b, label[a]), label[a])
        stepped = {v: min(lab, prop.get(v, lab)) for v, lab in label.items()}
        new = {v: min(lab, stepped.get(lab, lab)) for v, lab in stepped.items()}
        if new == label:
            break
        label = new
    return {v: label[m[v]] for v in nodes}, iters


def _run_cc(spark, monkeypatch, nodes, edges, path, **kw):
    """connected_components' {node: cluster} and iteration count, after
    checking that the call took ``path`` ("driver" or "spark") and that
    a driver call launched no iteration.  ``nodes=None`` passes no node
    list."""
    labels = []
    real_cut = dedup.cut

    def counting_cut(df, label, *a, **k):
        labels.append(label)
        return real_cut(df, label, *a, **k)

    monkeypatch.setattr(dedup, "cut", counting_cut)
    ndf = None
    if nodes is not None:
        ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edf = spark.createDataFrame(list(edges), "src long, dst long")
    rows = dedup.connected_components(ndf, edf, "doc_id", **kw).collect()
    monkeypatch.setattr(dedup, "cut", real_cut)
    assert all(r.is_canonical == (r.doc_id == r.cluster_id) for r in rows)
    assert ("connected_components.cmap" in labels) == (path == "spark"), labels
    assert len(rows) == len({r.doc_id for r in rows})
    return {r.doc_id: r.cluster_id for r in rows}, labels.count("connected_components.labels")


@pytest.fixture
def spark_path(spark, monkeypatch):
    """The session with the driver path's edge cap below every edge list,
    so connected_components runs its Spark loop."""
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", -1)
    return spark


def _graphs():
    n = 200
    yield "chain", list(range(n)), [(i, i + 1) for i in range(n - 1)]
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        nodes = rng.sample(range(1000), 120)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(40, 140))
        ]
        yield f"random{seed}", nodes, edges
    # a quarter of the endpoints outside the node set, all below it
    rng = random.Random(4)
    nodes = rng.sample(range(100, 1100), 120)
    edges = [
        tuple(rng.choice(nodes) if rng.random() < 0.75 else rng.randrange(100)
              for _ in range(2))
        for _ in range(150)
    ]
    yield "foreign", nodes, edges
    # star contraction leaves no edge: the loop runs 0 iterations
    yield "edgeless", list(range(50)), []
    yield "clique", list(range(20)), [(i, j) for i in range(20) for j in range(i)]
    yield "star", list(range(1, 40)), [(v, 1) for v in range(2, 40)]
    yield "pairs", list(range(40)), [(2 * i + 1, 2 * i) for i in range(20)]
    # self-loops and an edge given three times, in both orientations
    yield "loops", list(range(10)), [(1, 1), (2, 3), (3, 2), (2, 3), (5, 5), (5, 6)]


def _graph(name):
    return next(g for g in _graphs() if g[0] == name)


@pytest.mark.parametrize("name", [g[0] for g in _graphs()])
def test_connected_components_matches_union_find(spark_path, monkeypatch, name):
    """The Spark loop: exact components, and exactly the iterations of
    the reference: none when star contraction leaves no edge, else up
    to the first iteration that lowers no label."""
    _, nodes, edges = _graph(name)
    got, iters = _run_cc(spark_path, monkeypatch, nodes, edges, "spark")
    assert got == _union_find(nodes, edges)
    want, want_iters = _cc_reference(nodes, edges, dedup.MAX_CC_ITERS)
    assert got == want and iters == want_iters


@pytest.mark.parametrize("name", [g[0] for g in _graphs()])
def test_driver_components_match_union_find(spark, monkeypatch, name):
    """The driver path: exact components with foreign endpoints,
    self-loops and duplicate edges, and no iteration cut."""
    _, nodes, edges = _graph(name)
    got, iters = _run_cc(spark, monkeypatch, nodes, edges, "driver")
    assert got == _union_find(nodes, edges) and iters == 0


@pytest.mark.parametrize("path", ["driver", "spark"])
@pytest.mark.parametrize("name", ["random1", "pairs"])
def test_components_without_a_node_list(spark, monkeypatch, path, name):
    """``nodes=None``: the nodes are the edges' endpoints, on both paths."""
    _, _, edges = _graph(name)
    ends = sorted({v for e in edges for v in e})
    if path == "spark":
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", -1)
    got, _ = _run_cc(spark, monkeypatch, None, edges, path)
    assert got == _union_find(ends, edges)


def test_driver_components_of_an_empty_edge_list(spark):
    """No edge: every node is its own component, and with no node list
    the result is empty; neither collects anything."""
    edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in range(5)], "doc_id long")
    box = {}
    jobs = jobs_by_label(
        spark,
        lambda: box.update(
            some=dedup.connected_components(nodes, edges, "doc_id").collect(),
            none=dedup.connected_components(None, edges, "doc_id").collect(),
        ),
    )
    assert {r.doc_id: r.cluster_id for r in box["some"]} == {v: v for v in range(5)}
    assert box["none"] == []
    # the two edge cuts and the node list's collect
    assert sum(jobs.values()) == jobs["cut:connected_components.edges1"] + 1


def test_driver_path_gate_is_the_edge_cap(spark, monkeypatch):
    """With the cap at exactly the edge count the edges go to the driver;
    one edge less and the Spark loop runs.  Same components."""
    _, nodes, edges = _graph("random2")
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find(nodes, edges)
    for cap, cmap_jobs in ((len(edges), False), (len(edges) - 1, True)):
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", cap)
        box = {}
        jobs = jobs_by_label(
            spark,
            lambda: box.setdefault(
                "rows", dedup.connected_components(ndf, edf, "doc_id").collect()
            ),
        )
        assert (jobs["cut:connected_components.cmap"] > 0) == cmap_jobs, cap
        assert {r.doc_id: r.cluster_id for r in box["rows"]} == want


def test_connected_components_stops_at_the_cap(spark_path, monkeypatch):
    """Below the iterations a chain needs, the loop stops at max_iters
    with the partially propagated labels."""
    _, nodes, edges = next(_graphs())
    for cap in (1, 2):
        got, iters = _run_cc(
            spark_path, monkeypatch, nodes, edges, "spark", max_iters=cap
        )
        want, want_iters = _cc_reference(nodes, edges, cap)
        assert iters == want_iters == cap
        assert got == want and len(set(got.values())) > 1


@pytest.mark.parametrize("clique", [0, 10])
def test_edgeless_contraction_launches_no_label_job(spark_path, clique):
    """With no contracted edge (an edgeless graph, or a clique that
    contracts to its minimum) the result is the contraction map itself:
    no iteration cut runs."""
    spark = spark_path
    nodes = spark.createDataFrame([(v,) for v in range(50)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, j) for i in range(clique) for j in range(i)], "src long, dst long"
    )
    box = {}
    jobs = jobs_by_label(
        spark,
        lambda: box.setdefault(
            "rows", dedup.connected_components(nodes, edges, "doc_id").collect()
        ),
    )
    assert jobs["cut:connected_components.cmap"] > 0
    assert jobs["cut:connected_components.labels"] == 0
    got = {r.doc_id: r.cluster_id for r in box["rows"]}
    assert got == {v: 0 if v < clique else v for v in range(50)}


# --- the broadcast hint a small cut carries -------------------------------


def _hinted(df) -> bool:
    return df._jdf.queryExecution().analyzed().nodeName() == "ResolvedHint"


def _small_over_big_estimate(spark):
    """50 rows under a plan the planner estimates at gigabytes: a join's
    size estimate is the product of its sides' estimates, and a filter
    keeps its child's."""
    ids = spark.range(10_000)
    return ids.join(ids, "id").filter(F.col("id") < 50).select(
        "id", (F.col("id") % 7).alias("g")
    )


def test_small_cut_plans_a_broadcast_join(spark, monkeypatch):
    """A join against a small cut is planned as a broadcast of the cut,
    with no exchange on the other side, and launches fewer jobs than the
    same join over an unhinted cut; the rows are the same."""
    # 80 MB by estimate: above the threshold, so only a hint broadcasts
    other = spark.range(10**7).select("id", (F.col("id") * 2).alias("v"))
    ck = lineage.cut(_small_over_big_estimate(spark), "test.hinted")
    assert _hinted(ck)
    plan = other.join(ck, "id")._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "BroadcastHashJoin" in text and "SortMergeJoin" not in text
    assert "Exchange hashpartitioning" not in text

    monkeypatch.setattr(lineage, "_fits_broadcast", lambda ck: False)
    plain = lineage.cut(_small_over_big_estimate(spark), "test.unhinted")
    assert not _hinted(plain)
    box = {}
    hinted_jobs = jobs_launched(
        spark, lambda: box.setdefault("hinted", other.join(ck, "id").collect())
    )
    plain_jobs = jobs_launched(
        spark, lambda: box.setdefault("plain", other.join(plain, "id").collect())
    )
    assert hinted_jobs < plain_jobs
    assert sorted(box["hinted"]) == sorted(box["plain"])
    assert len(box["hinted"]) == 50


def test_no_hint_when_the_size_is_unknown_or_broadcast_is_off(spark):
    """A lazy cut has stored nothing yet, and a threshold below 0 turns
    automatic broadcasts off: neither carries the hint."""
    lazy = lineage.cut(_small_over_big_estimate(spark), "test.lazy_hint", eager=False)
    assert not _hinted(lazy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        off = lineage.cut(_small_over_big_estimate(spark), "test.off")
    finally:
        spark.conf.set(key, was)
    assert not _hinted(off)
    assert sorted(lazy.collect()) == sorted(off.collect())


# --- the partitioning a cut keeps ----------------------------------------


def _grouped(spark):
    """50 rows grouped by g = id % 7 through an exchange of its own."""
    return spark.range(50).groupBy((F.col("id") % 7).alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _partitioning(df) -> str:
    """The output partitioning of a cut's scan, under its hint if any."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "ResolvedHint":
        plan = plan.child()
    return plan.outputPartitioning().toString()


def _exchanges(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "coalesce, kind",
    [("true", "coalescedhashpartitioning"), ("false", "hashpartitioning")],
)
def test_by_cut_aggregates_on_its_key_with_no_exchange(spark, coalesce, kind):
    """A cut of a groupBy(g) told ``by=("g",)`` keeps the partitioning
    the final adaptive plan stored its blocks with (coalesced or not),
    so a groupBy(g) over it plans no exchange; over a plain cut it does.
    The rows are the same."""
    with spark_conf(spark, **{_COALESCE: coalesce}):
        kept = lineage.cut(_grouped(spark), "test.by", by=("g",))
        plain = lineage.cut(_grouped(spark), "test.plain_by")
    assert _partitioning(kept).startswith(f"{kind}(")
    assert _partitioning(plain) == "UnknownPartitioning(0)"
    over_kept = kept.groupBy("g").agg(F.sum("n").alias("s"))
    over_plain = plain.groupBy("g").agg(F.sum("n").alias("s"))
    assert not _exchanges(over_kept)
    assert _exchanges(over_plain)
    assert sorted(over_kept.collect()) == sorted(over_plain.collect())
    assert sum(r.s for r in over_kept.collect()) == 50


def test_by_naming_a_column_the_blocks_are_not_hashed_on_keeps_nothing(spark):
    """``by`` naming a column the blocks are not hashed on, a superset
    of the hash key, or the hash key after it was projected away keeps
    nothing: the cut plans an exchange as a plain cut does."""
    for frame, by, key in (
        (_grouped(spark), ("n",), "n"),
        (_grouped(spark), ("g", "n"), "g"),
        (_grouped(spark).select("n"), ("g",), "n"),
    ):
        ck = lineage.cut(frame, "test.by_unkept", by=by)
        assert _partitioning(ck) == "UnknownPartitioning(0)", by
        assert _exchanges(ck.groupBy(key).count()), by


def test_kept_cut_joins_a_frame_hashed_into_other_partitions(spark):
    """A kept cut (8 hash partitions) sort-merge joined to a kept cut
    hashed on the same key into 3 partitions, and to the same frame
    uncut, returns the rows of the join of the uncut frames."""
    def other():
        return spark.range(30).select(
            (F.col("id") % 5).alias("g"), F.col("id").alias("v")
        ).groupBy("g").agg(F.sum("v").alias("v"))

    with spark_conf(spark, **{_COALESCE: "false", _BROADCAST: "-1"}):
        kept = lineage.cut(_grouped(spark), "test.by_join", by=("g",))
        with spark_conf(spark, **{"spark.sql.shuffle.partitions": "3"}):
            kept3 = lineage.cut(other(), "test.by_join3", by=("g",))
            plain3 = other()
            assert _partitioning(kept3).endswith(", 3)")
        assert _partitioning(kept).endswith(", 8)")
        want = sorted(_grouped(spark).join(other(), "g").collect())
        for side in (kept3, plain3):
            joined = kept.join(side, "g")
            assert "SortMergeJoin" in (
                joined._jdf.queryExecution().executedPlan().toString()
            )
            assert sorted(joined.collect()) == want
    assert len(want) == 5


def test_by_refuses_a_lazy_cut(spark):
    with pytest.raises(ValueError):
        lineage.cut(_grouped(spark), "test.by_lazy", eager=False, by=("g",))
