"""Job-count budget.  On this engine's small inputs a Spark job costs
more than the rows it moves (0.1–0.17 s a job at sf0.1), so the number
of jobs a query or an ingest step launches is its wall.  The table
holds the jobs each call launches on the committed ``perfbench/corpus``:
a count may fall freely, but it may rise only by editing the table,
with the reason noted in CHANGES.md."""

import sys
from pathlib import Path

import pytest
from conftest import jobs_launched, spark_conf
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]
CORPUS = str(ROOT / "perfbench" / "corpus")

#: jobs of the query call plus ``collect()``, for the perfbench headline
#: pick (perfbench/workloads.py HEADLINE_PICK); they sum to the
#: headline workload's ``spark_jobs`` per pass
HEADLINE_JOBS = {
    "q_daily_report": 3,
    "q_large_orders": 4,
    "q_token_count": 1,
    "q_dedup_exact": 2,
    "q_ann_topk": 3,
    "q_multimodal_features": 1,
    "q_asof_join": 3,
    "q_correlation_matrix": 2,
    "q_radius_join": 5,
    "q_pii_scrub": 1,
    "q_bloom_join": 6,
    "q_pagerank": 9,
}

#: jobs of one ``lsh_maintenance_step`` ingesting the delta
#: (doc_id % 10 = 7) into the base's seeded state, and of the replay of
#: the same batch against the state it produced (nothing left to apply).
#: The ingest reads 42–46 from one process to the next: AQE launches a
#: varying number of map-stage jobs under two of its cuts (CHANGES.md)
LSH_STEP_JOBS = {"ingest": 46, "replay": 2}

#: jobs of ``connected_components`` plus ``collect()`` on three graphs,
#: on each path: a 200-node chain (the Spark path's pointer-jumping loop
#: runs), an edgeless graph and a 30-clique (star contraction leaves no
#: edge, so the loop does not run).  The Spark path is forced through
#: ``DRIVER_CC_MAX_EDGES`` and runs with automatic broadcasts off, so no
#: count depends on a cut's broadcast hint
CC_JOBS = {
    "chain": {"driver": 6, "spark": 63},
    "edgeless": {"driver": 2, "spark": 9},
    "clique": {"driver": 6, "spark": 12},
}

#: jobs of ``pagerank_seed_levels`` on the corpus's co-supply half edge
#: list (built beforehand) plus ``collect()`` of its last level
SEED_LEVELS_JOBS = 9

#: jobs launched while building (not collecting) the queries whose lazy
#: cut sits above an exchange, at sf0.001: under AQE, building the frame
#: runs every map stage below the cut's last exchange
CONSTRUCT_JOBS = {"q_bm25": 1, "q_naive_bayes": 3, "q_trajectory_hausdorff": 1}


def _cc_graphs():
    n = 200
    yield "chain", list(range(n)), [(i, i + 1) for i in range(n - 1)]
    yield "edgeless", list(range(n)), []
    k = 30
    yield "clique", list(range(k)), [
        (i, j) for i in range(k) for j in range(i + 1, k)
    ]


def test_budget_covers_the_headline_pick():
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        from workloads import HEADLINE_PICK
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    assert sorted(HEADLINE_JOBS) == sorted(
        q for qs in HEADLINE_PICK.values() for q in qs
    )


@pytest.mark.parametrize("query", sorted(HEADLINE_JOBS))
def test_headline_query_jobs_within_budget(spark, query):
    from end_to_end_datapipeline_project_spark.registry import all_queries

    fn = all_queries()[query]
    jobs = jobs_launched(spark, lambda: fn(spark, CORPUS).collect())
    assert jobs <= HEADLINE_JOBS[query], (
        f"{query} launched {jobs} jobs, budget {HEADLINE_JOBS[query]}"
    )


def test_lsh_maintenance_step_jobs_within_budget(spark):
    from end_to_end_datapipeline_project_spark.llm_ops import dedup
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    docs = read_parquet_table(spark, CORPUS, "documents")
    is_delta = F.col("doc_id") % 10 == 7
    state = dedup.lsh_seed_state(docs.filter(~is_delta))
    batch = docs.filter(is_delta).select(
        "doc_id", dedup.fingerprint_col().alias("fp"), "text"
    )
    box = {}
    ingest = jobs_launched(
        spark,
        lambda: box.setdefault("s", dedup.lsh_maintenance_step(*state, batch)),
    )
    after = box["s"]
    replay = jobs_launched(
        spark, lambda: dedup.lsh_maintenance_step(*after[:5], batch)
    )
    assert after[5].count() == docs.filter(is_delta).count()
    got = {"ingest": ingest, "replay": replay}
    assert all(got[k] <= LSH_STEP_JOBS[k] for k in got), (
        f"lsh_maintenance_step jobs {got}, budget {LSH_STEP_JOBS}"
    )


@pytest.mark.parametrize("graph", sorted(CC_JOBS))
def test_connected_components_jobs_within_budget(spark, monkeypatch, graph):
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    _, nodes, edges = next(g for g in _cc_graphs() if g[0] == graph)
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    edf = spark.createDataFrame(edges, "src long, dst long")

    def jobs():
        return jobs_launched(
            spark, lambda: dedup.connected_components(ndf, edf, "doc_id").collect()
        )

    got = {"driver": jobs()}
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", -1)
    with spark_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        got["spark"] = jobs()
    assert all(got[p] <= CC_JOBS[graph][p] for p in got), (
        f"connected_components on {graph} launched {got} jobs, "
        f"budget {CC_JOBS[graph]}"
    )


def test_pagerank_seed_levels_jobs_within_budget(spark):
    from end_to_end_datapipeline_project_spark import graph
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    li = read_parquet_table(spark, CORPUS, "lineitem")
    half = graph._co_supply_half(li)
    jobs = jobs_launched(
        spark, lambda: graph.pagerank_seed_levels(half)[0][-1].collect()
    )
    assert jobs <= SEED_LEVELS_JOBS, (
        f"pagerank_seed_levels launched {jobs} jobs, "
        f"budget {SEED_LEVELS_JOBS}"
    )


@pytest.mark.parametrize("query", sorted(CONSTRUCT_JOBS))
def test_lazy_cut_construction_jobs_within_budget(spark, sf_dir, query):
    from end_to_end_datapipeline_project_spark.registry import all_queries

    fn = all_queries()[query]
    jobs = jobs_launched(spark, lambda: fn(spark, sf_dir))
    assert jobs <= CONSTRUCT_JOBS[query], (
        f"building {query} launched {jobs} jobs, "
        f"budget {CONSTRUCT_JOBS[query]}"
    )
