"""Crash-consistency of the versioned-manifest state store and the
streaming twins' per-batch commit (VERDICT r13 task #3 / What's wrong
#2: the r13 twins wrote their state as N sequential non-atomic
overwrites with the replay marker FIRST, so a crash between writes
made a replayed batch silently skip or double-apply)."""

import pytest
from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.state import StateStore


def _boom(self, manifest):  # stand-in for a crash at the commit point
    raise RuntimeError("killed before manifest flip")


def test_state_store_commit_is_atomic(spark, tmp_path, monkeypatch):
    """Kill the commit BETWEEN the table writes and the manifest flip:
    the previous state must stay fully readable, the replayed commit
    must converge, and a replay AFTER the flip must be a no-op (the
    watermark means 'fully applied')."""
    store = StateStore(str(tmp_path / "st"))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    store.commit(0, replace={"t": df1}, append={"log": df1})
    assert store.last_batch() == 0

    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    orig = StateStore._publish
    monkeypatch.setattr(StateStore, "_publish", _boom)
    with pytest.raises(RuntimeError):
        store.commit(1, replace={"t": df2}, append={"log": df2})
    monkeypatch.setattr(StateStore, "_publish", orig)

    # crash left batch-0 state fully intact (orphan dirs are invisible)
    assert store.last_batch() == 0
    assert [r.id for r in store.read(spark, "t").collect()] == [1]
    assert store.read(spark, "log").count() == 1

    # the replayed commit clobbers its orphan dirs and flips once
    store.commit(1, replace={"t": df2}, append={"log": df2})
    assert store.last_batch() == 1
    assert [r.id for r in store.read(spark, "t").collect()] == [2]
    assert store.read(spark, "log").count() == 2

    # replay AFTER the flip: watermark guard makes it a no-op
    store.commit(1, replace={"t": df1}, append={"log": df1})
    assert [r.id for r in store.read(spark, "t").collect()] == [2]
    assert store.read(spark, "log").count() == 2


def test_state_store_compact_append_segments(spark, tmp_path, monkeypatch):
    """compact() folds an append table's segments into one dir with
    unchanged content, crash-safely (kill between the rewrite and the
    flip ⇒ previous segments stay live; retry converges), and the flip
    GCs the compacted-away segments (VERDICT r14 missing #2 /
    ADVICE r14 replace-dir GC)."""
    import os

    store = StateStore(str(tmp_path / "st"))
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 10 + i, b) for i in range(3)], "id long, bkt long"
        )
        store.commit(b, append={"log": df}, partition_by={"log": ["bkt"]})
    assert len(store.dirs("log")) == 4
    before = sorted(
        (r.id, r.bkt) for r in store.read(spark, "log").collect()
    )

    # kill mid-compaction: previous manifest (and all segments) intact
    orig = StateStore._publish
    monkeypatch.setattr(StateStore, "_publish", _boom)
    with pytest.raises(RuntimeError):
        store.compact(spark, "log", partition_by=["bkt"])
    monkeypatch.setattr(StateStore, "_publish", orig)
    assert len(store.dirs("log")) == 4
    assert sorted(
        (r.id, r.bkt) for r in store.read(spark, "log").collect()
    ) == before

    # the retry converges: one live dir, identical content, old segment
    # dirs GC'd from disk, partition layout prunable
    store.compact(spark, "log", partition_by=["bkt"])
    assert len(store.dirs("log")) == 1
    assert sorted(
        (r.id, r.bkt) for r in store.read(spark, "log").collect()
    ) == before
    root = tmp_path / "st" / "log"
    assert sorted(os.listdir(root)) == ["c3"]
    assert any(d.startswith("bkt=") for d in os.listdir(root / "c3"))
    # idempotent: a second compact with one live dir is a no-op
    store.compact(spark, "log", partition_by=["bkt"])
    assert len(store.dirs("log")) == 1

    # appends keep working after compaction and batch ids advance
    df = spark.createDataFrame([(100, 9)], "id long, bkt long")
    store.commit(4, append={"log": df}, partition_by={"log": ["bkt"]})
    assert len(store.dirs("log")) == 2
    assert store.read(spark, "log").count() == 13


def test_state_store_gc_superseded_replace_dirs(spark, tmp_path):
    """Every commit deletes the replace dirs it supersedes — a
    long-running stream must not grow the state root O(|V|) per batch
    (ADVICE r14)."""
    import os

    store = StateStore(str(tmp_path / "st"))
    for b in range(3):
        df = spark.createDataFrame([(b,)], "id long")
        store.commit(b, replace={"t": df})
    assert sorted(os.listdir(tmp_path / "st" / "t")) == ["b2"]
    assert [r.id for r in store.read(spark, "t").collect()] == [2]


def test_state_store_read_restores_session_conf(spark, tmp_path):
    """read() must not leak its raised partition-discovery threshold
    into the session (ADVICE r14)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key, None)
    store = StateStore(str(tmp_path / "st"))
    df = spark.createDataFrame([(1,)], "id long")
    store.commit(0, replace={"t": df})
    store.read(spark, "t").collect()
    assert spark.conf.get(key, None) == prev


def test_lsh_ingest_crash_between_writes_replays_to_batch(
    spark, tmp_path, monkeypatch
):
    """The kill-between-writes corner on the REAL ingest step: run the
    LSH maintenance kernel over two micro-batches through a StateStore,
    kill batch 2's commit between the table writes and the manifest
    flip, replay it (Structured Streaming redelivers a failed batch),
    and pin the final reattachment ≡ the full batch rebuild."""
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    w = [f"w{i}" for i in range(1, 19)]
    a_text = " ".join(w[0:12])
    b_text = " ".join(w[6:18])
    base_rows = [
        (10, a_text),
        (12, a_text + " extra"),
        (20, b_text),
        (22, b_text + " extra"),
        (30, "p1 p2 p3 p4 p5 p6 p7 p8"),
        (32, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),
    ]
    batch1_rows = [(7, a_text)]                       # rep churn
    batch2_rows = [(17, " ".join(w[3:15])),           # bridges A and B
                   (27, "totally unrelated content here alone")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    store = StateStore(str(tmp_path / "state"))
    d0, g0, i0, s0, l0 = dedup.lsh_seed_state(mk(base_rows))
    store.commit(
        0,
        replace={"groups": g0, "index": i0, "spill": s0, "labels": l0},
        append={"digests": d0},
    )

    def apply_batch(bid, bdf):  # the twin's ingest closure, verbatim
        if store.last_batch() >= bid:
            return
        batch = bdf.select(
            "doc_id", dedup.fingerprint_col().alias("fp"), "text"
        ).dropDuplicates(["doc_id"])
        _d, g2, i2, s2, l2, applied = dedup.lsh_maintenance_step(
            store.read(spark, "digests"),
            store.read(spark, "groups"),
            store.read(spark, "index"),
            store.read(spark, "spill"),
            store.read(spark, "labels"),
            batch,
        )
        store.commit(
            bid,
            replace={"groups": g2, "index": i2, "spill": s2, "labels": l2},
            append={"digests": applied},
        )

    apply_batch(1, mk(batch1_rows))

    orig = StateStore._publish
    monkeypatch.setattr(StateStore, "_publish", _boom)
    with pytest.raises(RuntimeError):
        apply_batch(2, mk(batch2_rows))
    monkeypatch.setattr(StateStore, "_publish", orig)
    assert store.last_batch() == 1  # batch-1 snapshot intact

    apply_batch(2, mk(batch2_rows))  # the replay
    assert store.last_batch() == 2

    final = (
        store.read(spark, "digests")
        .join(store.read(spark, "groups").select("fp", "rep_id"), "fp")
        .join(store.read(spark, "labels"), "rep_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id"))
            .cast("int")
            .alias("is_canonical"),
        )
    )
    got = {r.doc_id: (r.cluster_id, r.is_canonical) for r in final.collect()}
    want = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.minhash_cluster_assignments(
            mk(base_rows + batch1_rows + batch2_rows)
        ).collect()
    }
    assert got == want
    # the churn + bridge landed: the A∪B component's min is delta doc 7
    assert got[7] == (7, 1) and got[17] == (7, 0)


def test_state_store_read_launches_no_job(spark, tmp_path):
    """read() declares the manifest's schema, so building the DataFrame
    of a replace table, a multi-segment partitioned append table, and an
    EMPTY partitioned append table (no footer anywhere) runs no Spark
    job; each reads back its content."""
    from conftest import jobs_launched

    store = StateStore(str(tmp_path / "st"))
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, i % 2) for i in range(4)], "id long, bkt long"
        )
        store.commit(
            b,
            replace={"r": df},
            append={"a": df, "e": df.limit(0)},
            partition_by={"a": ["bkt"], "e": ["bkt"]},
        )
    assert len(store.dirs("a")) == 3 and len(store.dirs("e")) == 3
    reads = {}
    for name in ("r", "a", "e"):
        assert jobs_launched(
            spark, lambda: reads.__setitem__(name, store.read(spark, name))
        ) == 0, name
    assert sorted(r.id for r in reads["r"].collect()) == [20, 21, 22, 23]
    assert reads["a"].count() == 12
    assert reads["e"].count() == 0
    assert reads["e"].schema.simpleString() == "struct<id:bigint,bkt:bigint>"


def test_state_store_read_names_table_without_schema(spark, tmp_path):
    """A manifest that lists a table but records no schema for it is
    refused with an error naming the table, never read by inference."""
    import json

    store = StateStore(str(tmp_path / "st"))
    df = spark.createDataFrame([(1,)], "id long")
    store.commit(0, replace={"t": df})
    path = tmp_path / "st" / StateStore.MANIFEST
    manifest = json.loads(path.read_text())
    del manifest["schemas"]["t"]
    path.write_text(json.dumps(manifest))
    with pytest.raises(KeyError, match="'t'"):
        store.read(spark, "t")
