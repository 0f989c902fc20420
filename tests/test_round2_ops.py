"""Round-2 extension operators: script mix, winsorized moments, bigram LM
scoring, random-hyperplane LSH — structural/consistency checks beyond the
DuckDB oracle gate."""

from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.llm_ops.clean import (
    q_boilerplate_scrub,
    q_mixture_sample,
    q_quality_calibration,
)
from end_to_end_datapipeline_project_spark.llm_ops.similarity import (
    _RHP_COS_T,
    q_ann_hyperplane_lsh,
    q_embedding_neardup,
    q_hard_negatives,
)
from end_to_end_datapipeline_project_spark.llm_ops.text import (
    q_bigram_logprob,
    q_script_mix,
    q_token_count,
)
from end_to_end_datapipeline_project_spark.sources import read_parquet_table
from end_to_end_datapipeline_project_spark.stats import q_winsorized_stats


def test_script_mix_counts_partition_chars(spark, sf_dir):
    rows = q_script_mix(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the four character classes partition every character exactly
        assert r.n_alpha + r.n_digit + r.n_space + r.n_other == r.n_chars
        assert 0.0 <= r.alpha_ratio <= 1.0
        assert 0.0 <= r.other_ratio <= 1.0


def test_winsorized_stats_bounded_by_raw(spark, sf_dir):
    ev = read_parquet_table(spark, sf_dir, "events")
    raw = {
        r.event_type: (r.mean, r.sd)
        for r in ev.groupBy("event_type")
        .agg(F.avg("value").alias("mean"), F.stddev("value").alias("sd"))
        .collect()
    }
    for r in q_winsorized_stats(spark, sf_dir).collect():
        mean, sd = raw[r.event_type]
        # clamping the tails cannot increase the spread
        assert r.wins_stddev <= sd * 1.0001
        # winsorized mean stays within a couple of raw sds of the raw mean
        assert abs(r.wins_mean - mean) <= 2 * sd


def test_bigram_logprob_shape(spark, sf_dir):
    toks = {
        r.doc_id: r.n_tokens for r in q_token_count(spark, sf_dir).collect()
    }
    rows = q_bigram_logprob(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams == toks[r.doc_id] - 1
        assert r.avg_logprob < 0.0  # log-probabilities


def test_hyperplane_lsh_subset_of_bruteforce(spark, sf_dir):
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q_embedding_neardup(spark, sf_dir).collect()
    }
    lsh = q_ann_hyperplane_lsh(spark, sf_dir).collect()
    for r in lsh:
        # every LSH hit is a true >= threshold pair with the same cosine
        assert (r.vec_a, r.vec_b) in brute
        assert abs(brute[(r.vec_a, r.vec_b)] - r.cosine) < 1e-9
        assert r.cosine >= _RHP_COS_T


def test_incremental_embedding_neardup_delta_scoped(spark, sf_dir):
    """The probe-shaped incremental form emits only delta-touching true
    near-dup pairs, each value-identical to the brute-force baseline."""
    from end_to_end_datapipeline_project_spark.llm_ops.similarity import (
        q_incremental_embedding_neardup,
    )

    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q_embedding_neardup(spark, sf_dir).collect()
    }
    inc = q_incremental_embedding_neardup(spark, sf_dir).collect()
    assert inc, "delta produced no embedding near-dup pairs"
    for r in inc:
        assert r.vec_a < r.vec_b
        assert r.vec_a % 10 == 7 or r.vec_b % 10 == 7
        assert (r.vec_a, r.vec_b) in brute
        assert abs(brute[(r.vec_a, r.vec_b)] - r.cosine) < 1e-9
        assert r.cosine >= _RHP_COS_T


def test_mixture_sample_downsamples_to_probability(spark, sf_dir):
    rows = q_mixture_sample(spark, sf_dir).collect()
    assert rows
    assert max(r.sample_prob for r in rows) == 1.0
    for r in rows:
        assert 0.0 < r.sample_prob <= 1.0
        assert 0 <= r.n_kept <= r.n_docs
        if r.sample_prob == 1.0:
            assert r.n_kept == r.n_docs  # downsample-only: top source intact


def test_quality_calibration_drops_about_a_tenth(spark, sf_dir):
    for r in q_quality_calibration(spark, sf_dir).collect():
        assert 0.0 <= r.n_dropped <= r.n_docs
        # p10 cutoff keeps ~90%; ties can only push the keep rate UP
        assert 0.85 <= r.keep_rate <= 1.0


def test_boilerplate_scrub_rewrites_only_flagged_docs(spark, sf_dir):
    import hashlib

    rows = {r.doc_id: r for r in q_boilerplate_scrub(spark, sf_dir).collect()}
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    assert len(rows) == docs.count()
    # untouched docs must reassemble to their original normalized text
    import re

    for d in docs.collect():
        r = rows[d.doc_id]
        assert 0 <= r.n_removed <= r.n_chunks
        if r.n_removed == 0:
            norm = " ".join(re.split(r"\s+", d.text.strip().lower()))
            assert r.clean_md5 == hashlib.md5(norm.encode()).hexdigest()


def test_hard_negatives_are_cross_label_topk(spark, sf_dir):
    rows = q_hard_negatives(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.query_label != r.negative_label
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_new_ops_plan_shapes(spark, sf_dir):
    # boilerplate set and calibration thresholds must BROADCAST back over
    # the corpus (a shuffled join would move the 100 TB side on its key)
    assert "BroadcastHashJoin" in _executed_plan(
        q_boilerplate_scrub(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in _executed_plan(
        q_quality_calibration(spark, sf_dir)
    )
    # hard negatives: LSH band prefilter replaced the corpus-rescan BNLJ
    # (round 4) — candidates come from a broadcast hash join of the tiny
    # anchor band table; NEVER a nested-loop or shuffled cartesian
    plan = _executed_plan(q_hard_negatives(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_signature_md5_count(spark):
    """The chunked-minhash scheme must evaluate exactly N_SEEDS/4 md5
    transforms (one per base hash), not one per seed: CollapseProject
    inlining the base-hash arrays 4× each would silently restore the
    8-md5-per-shingle cost the chunking exists to remove."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        N_SEEDS,
        minhash_signatures,
        shingle_arrays,
    )

    docs = spark.createDataFrame(
        [(0, "one two three four five"), (1, "two three four five six")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(shingle_arrays(docs))
    optimized = sig._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5(") == N_SEEDS // 4, optimized
    # and the signatures themselves are the 8-hex-char md5 chunks
    rows = sig.collect()
    assert len(rows) == 2 * N_SEEDS
    assert all(len(r.minhash) == 8 for r in rows)


def test_real_media_decode_kernel(spark):
    """PPM + WAV payloads decode with REAL parsed values through the full
    Arrow mapInPandas path; unknown formats fall back to fake_decode."""
    import math
    import struct

    from end_to_end_datapipeline_project_spark.llm_ops.multimodal import (
        decode_media,
    )

    # 4x2 P6 image, all pixels (10, 20, 30) => mean 20.0
    ppm = b"P6\n4 2\n255\n" + bytes([10, 20, 30]) * 8
    # 100 samples of a 16-bit mono square wave at 8 kHz, amplitude 16384
    amp, n = 16384, 100
    pcm = struct.pack("<%dh" % n, *([amp, -amp] * (n // 2)))
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame(
        [(1, "image", bytearray(ppm)), (2, "audio", bytearray(wav)),
         (3, "video", bytearray(b"not-a-real-codec"))],
        "asset_id long, kind string, payload binary",
    )
    out = {r.asset_id: r for r in decode_media(df).collect()}
    img = out[1]
    assert (img.format, img.width, img.height, img.channels) == ("ppm", 4, 2, 3)
    assert abs(img.mean_level - 20.0) < 1e-9
    aud = out[2]
    assert (aud.format, aud.channels, aud.sample_rate) == ("wav", 1, 8000)
    assert aud.duration_ms == int(n * 1000 / 8000)
    assert abs(aud.mean_level - amp / 32768.0) < 1e-9  # square wave RMS = amp
    fallback = out[3]
    assert fallback.format is None and fallback.width is not None


def test_incremental_minhash_equals_filtered_full_lsh(spark, sf_dir):
    """The probe-shaped incremental form (delta signatures joined
    against the capped index) must emit EXACTLY the full LSH's pairs
    restricted to delta-touching ones — same bucket cap, same verify —
    or the incremental ingest path silently diverges from a periodic
    full re-dedup.  (q_minhash_lsh's exact-duplicate pre-collapse is a
    no-op on this fixture — sf0.001 has 500 distinct fingerprints — so
    the equality is exact here; on corpora WITH exact dups the full
    form is rep-level while the incremental probe's per-bucket work
    stays bounded by |delta ∩ bucket| × cap either way.)"""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_incremental_minhash,
        q_minhash_lsh,
    )

    inc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_incremental_minhash(spark, sf_dir).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_minhash_lsh(spark, sf_dir).collect()
        if r.doc_a % 10 == 7 or r.doc_b % 10 == 7
    }
    assert inc, "delta produced no near-dup pairs — fixture too small"
    assert inc == full
    for (a, b) in inc:
        assert a < b
        assert a % 10 == 7 or b % 10 == 7


def test_lsh_index_upsert_when_cap_binds(spark):
    """The monotone-merge equivalence (base-capped ∪ delta, re-capped
    == full rebuild) in the regime the oracle corpus never reaches:
    every bucket OVER the occupancy cap, with delta doc_ids interleaved
    below surviving base ids.  1100 identical docs make every
    (seed, minhash) bucket hold all 1100 members > cap 1024."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        MINHASH_BUCKET_CAP,
        lsh_index_upsert,
        minhash_index,
        minhash_signatures,
        shingle_arrays,
    )

    assert MINHASH_BUCKET_CAP == 1024
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(1100)],
        "doc_id long, text string",
    )
    arrs = shingle_arrays(docs)
    base_idx = minhash_index(arrs.filter(F.col("doc_id") % 10 != 7))
    delta_sig = minhash_signatures(arrs.filter(F.col("doc_id") % 10 == 7))
    merged = lsh_index_upsert(base_idx, delta_sig)
    rebuilt = minhash_index(arrs)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, rebuilt.collect()))
    assert got == want
    # the cap actually bound: survivors are exactly the lowest 1024 ids
    # (so delta ids < 1024 displaced base ids >= 1024 and the eviction
    # agreed with the rebuild)
    ids = sorted({t[0] for t in got})
    assert ids == list(range(MINHASH_BUCKET_CAP))


def test_minhash_collapses_exact_duplicate_group(spark, tmp_path):
    """The r11 skew-probe scale-killer, pinned: a 100-copy identical
    group must contribute ONE representative to the pairwise stage —
    zero intra-group pairs, non-reps absent from the pair stream — and
    q_minhash_clusters must reattach every copy to the right cluster.
    Without the collapse this corpus emits C(100,2)=4,950 intra-group
    pairs; at a 10⁶-copy boilerplate group that's 5·10¹¹."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_minhash_clusters,
        q_minhash_lsh,
    )

    base = " ".join(f"word{i}" for i in range(20))
    rows = [(5, base + " extraword")]  # near-dup of the group text
    rows += [(10 + i, base) for i in range(100)]  # identical hot group
    rows.append((200, "completely unrelated content about other things"))
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q_minhash_lsh(spark, str(tmp_path)).collect()
    }
    group = set(range(10, 110))
    assert not any(a in group and b in group for a, b in pairs)
    assert not any(  # non-representatives never enter the pair stream
        a in group - {10} or b in group - {10} for a, b in pairs
    )
    assert (5, 10) in pairs and pairs[(5, 10)] >= 0.5

    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in q_minhash_clusters(spark, str(tmp_path)).collect()
    }
    assert len(got) == 102  # every doc reattached, including non-reps
    assert got[5] == (5, 1)
    assert all(got[d] == (5, 0) for d in group)
    assert got[200] == (200, 1)


def test_incremental_minhash_clusters_churn_bridge_and_fallback(
    spark, monkeypatch
):
    """The LSH-based cluster-maintenance corners: a delta doc IDENTICAL
    to a base doc with a lower id moves the group's representative (rep
    churn — zero signature work, labels re-min), a novel delta text
    bridges two base clusters, an untouched base cluster keeps its
    label, and a cap-binding index takes the exact full-recluster
    fallback."""
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    w = [f"w{i}" for i in range(1, 19)]
    a_text = " ".join(w[0:12])       # w1..w12
    b_text = " ".join(w[6:18])       # w7..w18 — J(A,B) = 0.25, separate
    rows = [
        (10, a_text),                      # base cluster A
        (12, a_text + " extra"),           # near-dup of 10
        (20, b_text),                      # base cluster B
        (22, b_text + " extra"),           # near-dup of 20
        (30, "p1 p2 p3 p4 p5 p6 p7 p8"),   # untouched base cluster C
        (32, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),
        (7, a_text),                       # delta: EXACT copy → rep churn
        (17, " ".join(w[3:15])),           # delta: bridges A and B (J≈0.54)
        (27, "totally unrelated content here alone"),  # delta singleton
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.incremental_minhash_clusters(docs).collect()
    }
    want = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.minhash_cluster_assignments(docs).collect()
    }
    assert got == want
    assert len(got) == 9
    # churn + bridge: the A∪B component's minimum is the delta copy 7
    assert got[7] == (7, 1)
    assert got[10] == (7, 0) and got[12] == (7, 0)
    assert got[20] == (7, 0) and got[22] == (7, 0)
    assert got[17] == (7, 0)
    # untouched base cluster keeps its label; novel singleton is its own
    assert got[30] == (30, 1) and got[32] == (30, 0)
    assert got[27] == (27, 1)

    # cap-binding ingest → the SCOPED recluster must execute, equal the
    # rebuild, and leave untouched clusters provably unrecomputed
    # (VERDICT r12 task #2).  Corpus: group X (base 40/42/44 + novel
    # delta 37) shares ONE shingle set — identical minhash in every
    # seed — so with cap 2 the merged bucket {37,40,42,44} evicts base
    # rows 42 and 44; cluster {30,32} and singleton 50 never cap.
    monkeypatch.setattr(dedup, "MINHASH_BUCKET_CAP", 2)
    x = "g1 g2 g3 g1 g2 g3"  # shingle set {g1 g2 g3, g2 g3 g1, g3 g1 g2}
    rows_fb = [
        (40, x),
        (42, x + " g1"),                    # same set, distinct text
        (44, x + " g1 g2"),
        (37, x + " g1 g2 g3"),              # novel delta, id < 40
        (30, "p1 p2 p3 p4 p5 p6 p7 p8"),    # untouched base cluster
        (32, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),
        (50, "z1 z2 z3 z4 z5 z6 z7 z8"),    # isolated base doc
    ]
    docs_fb = spark.createDataFrame(rows_fb, "doc_id long, text string")
    obs = {}
    got_fb = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.incremental_minhash_clusters(docs_fb, obs).collect()
    }
    want_fb = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.minhash_cluster_assignments(docs_fb).collect()
    }
    assert got_fb == want_fb
    # the scoped path ran, and it reclustered ONLY group X's component,
    # never the untouched cluster {30,32} or singleton 50.  Base row 44
    # was already evicted from the STORED base index (base bucket
    # {40,42,44} capped at 2), so the re-cap evicts exactly one base
    # row — 42, pushed out by novel 37 — and the scope is 42's
    # fast-path component {37, 40, 42}.
    assert obs["n_evicted"] == 1          # base row 42
    assert obs["n_scope_reps"] == 3       # {37, 40, 42}
    assert obs["n_total_reps"] == 7
    assert obs["n_scope_reps"] < obs["n_total_reps"]
    # rebuild semantics under the cap: eviction really did split the
    # group (42/44 lost their only meeting place with 37/40)
    assert got_fb[37] == (37, 1) and got_fb[40] == (37, 0)
    assert got_fb[42] == (42, 1) and got_fb[44] == (44, 1)
    assert got_fb[30] == (30, 1) and got_fb[32] == (30, 0)
    assert got_fb[50] == (50, 1)


# (test_incremental_clusters_delta_bridges_base_clusters was retired
# with q_incremental_clusters — VERDICT r12 task #3.  Its delta-bridge
# corner lives on in test_incremental_minhash_clusters_churn_bridge_and_
# fallback above, and the hypothesis equivalence property moved to the
# LSH successor in test_properties.py.)


def test_incremental_minhash_clusters_spill_reentry(spark, monkeypatch):
    """The ADVICE r13 HIGH corner: a fingerprint group whose rep was
    evicted at BASE-index build time (bucket already at cap among base
    reps) gets RELABELED to a smaller delta doc_id by an exact-dup
    ingest.  The rebuild's capped bucket then contains the relabeled
    row (it outranks the old survivors) and evicts a survivor, but the
    r13 eviction-only guard never saw the row — `evicted` stayed empty,
    no recluster fired, and the output silently diverged from the
    rebuild.  The fix: the SPILL side table persists base-build
    evictions; relabeled spill rows re-enter the re-cap (making the
    maintained index provably ≡ the rebuild's) and probe the index as
    re-entrants, so the displaced survivor shows up in `evicted` and
    the scoped recluster restores exactness."""
    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    monkeypatch.setattr(dedup, "MINHASH_BUCKET_CAP", 2)
    x = "g1 g2 g3 g1 g2 g3"  # shingle set {3 rotations} — one bucket
    rows = [
        (10, x),                           # base bucket {10, 20, 30}:
        (20, x + " g1"),                   #   cap 2 stores {10, 20},
        (30, x + " g1 g2"),                #   30's rows all SPILL
        (7, x + " g1 g2"),                 # delta: EXACT dup of 30 →
        #                                    relabel 30→7, spill re-entry
        (60, "p1 p2 p3 p4 p5 p6 p7 p8"),   # untouched base cluster
        (62, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs: dict = {}
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.incremental_minhash_clusters(docs, obs).collect()
    }
    want = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.minhash_cluster_assignments(docs).collect()
    }
    assert got == want
    # rebuild semantics: bucket {7, 10} survives (7 outranks 20 after
    # the relabel), so 20 loses its only meeting place with 10
    assert got[7] == (7, 1) and got[30] == (7, 0) and got[10] == (7, 0)
    assert got[20] == (20, 1)
    assert got[60] == (60, 1) and got[62] == (60, 0)
    # the displaced survivor tripped the guard, and the scoped
    # recluster touched ONLY the affected component {7, 10, 20} —
    # never the untouched cluster {60, 62}
    assert obs["n_evicted"] == 1          # stored row 20
    assert obs["n_scope_reps"] == 3       # {7, 10, 20}
    assert obs["n_total_reps"] == 5       # reps {7, 10, 20, 60, 62}


def test_lsh_seed_state_index_and_spill_split_rep_signatures(
    spark, monkeypatch
):
    """The invariant lsh_maintenance_step's induction starts from, with
    the occupancy cap at 2: the seed's idx ∪ spill is exactly
    minhash_signatures over the group representatives (disjoint), and
    idx holds exactly each (seed, minhash) bucket's lowest-cap doc_ids."""
    from collections import defaultdict

    from end_to_end_datapipeline_project_spark.llm_ops import dedup

    monkeypatch.setattr(dedup, "MINHASH_BUCKET_CAP", 2)
    x = "g1 g2 g3 g1 g2 g3"  # shingle set {3 rotations} — one bucket
    rows = [
        (10, x),                           # bucket {10, 20, 30} in
        (20, x + " g1"),                   #   every seed: cap 2 keeps
        (30, x + " g1 g2"),                #   {10, 20}, 30 spills
        (40, x),                           # exact dup of 10: not a rep
        (50, "p1 p2 p3 p4 p5 p6 p7 p8"),
        (60, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _d, groups, idx, spill, _l = dedup.lsh_seed_state(docs)

    reps = groups.select(F.col("rep_id").alias("doc_id"), "text")
    want = sorted(
        map(
            tuple,
            dedup.minhash_signatures(dedup.shingle_arrays(reps)).collect(),
        )
    )
    got_idx = sorted(map(tuple, idx.collect()))
    got_spill = sorted(map(tuple, spill.collect()))
    assert sorted(got_idx + got_spill) == want
    assert not set(got_idx) & set(got_spill)

    buckets = defaultdict(list)
    for doc_id, seed, minhash in want:
        buckets[(seed, minhash)].append(doc_id)
    lowest = sorted(
        (doc_id, seed, minhash)
        for (seed, minhash), ids in buckets.items()
        for doc_id in sorted(ids)[: dedup.MINHASH_BUCKET_CAP]
    )
    assert got_idx == lowest
    # the cap bound where the corpus says it must, and only there
    assert {r[0] for r in got_spill} == {30}
    assert 40 not in {r[0] for r in want}


def test_minhash_recall_monotone(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_minhash_recall,
    )

    rows = sorted(
        q_minhash_recall(spark, sf_dir).collect(), key=lambda r: r.threshold
    )
    assert rows
    for r in rows:
        assert 0 <= r.n_hit <= r.n_true
        assert 0.0 <= r.recall <= 1.0
    # OR-amplified LSH recall grows with the similarity threshold
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)


def test_ngram_novelty_bounds(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_ngram_novelty,
    )

    rows = q_ngram_novelty(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_exclusive <= r.n_shingles
        assert 0.0 <= r.exclusivity <= 1.0


def test_duplicate_spans_bounds(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        q_duplicate_spans,
    )

    rows = q_duplicate_spans(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.covered_tokens <= r.n_tokens
        assert 0.0 <= r.dup_coverage <= 1.0


def test_decode_media_survives_adversarial_payloads(spark):
    """Magic-prefixed garbage must fall back to fake_decode, not crash."""
    from end_to_end_datapipeline_project_spark.llm_ops.multimodal import (
        decode_media,
    )

    evil = [
        (1, b"P6 bus line to the depot leaves at six" * 3),
        (2, b"BMW dealership hours are 9-5 weekdays ok" * 2),
        (3, b"RIFFxxxxWAVEbroken"),
        (4, b"RIFF\x04\x00\x00\x00WAVE"),
        (5, b"P6"),
    ]
    df = spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in evil],
        "asset_id long, kind string, payload binary",
    )
    out = {r.asset_id: r for r in decode_media(df).collect()}
    assert len(out) == len(evil)
    for r in out.values():
        assert r.format is None  # every one fell back
        assert r.width is not None  # fake_decode dims present


def test_binary_ingest_reads_staged_objects(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.llm_ops.multimodal import (
        q_binary_ingest,
    )
    from end_to_end_datapipeline_project_spark.sources import (
        read_parquet_table,
    )

    got = {r.doc_id: (r.byte_len, r.content_md5) for r in q_binary_ingest(spark, sf_dir).collect()}
    docs = read_parquet_table(spark, sf_dir, "documents")
    import hashlib

    for d in docs.filter("doc_id < 200").collect():
        raw = d.text.encode("utf-8")
        assert got[d.doc_id] == (len(raw), hashlib.md5(raw).hexdigest())


def test_connected_components_converges_on_long_chains(spark):
    """Pointer jumping makes CC converge in O(log diameter): a 200-node
    path graph (diameter 199, far beyond the 20-iteration budget under
    one-hop propagation) must still collapse to a single cluster."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        connected_components,
    )

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = connected_components(nodes, chain, "doc_id").collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {0}
    assert sum(r.is_canonical for r in out) == 1


def test_connected_components_drops_foreign_edges(spark):
    """Edges violating the both-endpoints-in-nodes contract are DROPPED
    (ADVICE r13): before the guard, the star-contraction pre-pass could
    emit a foreign endpoint as a contracted node and return a
    cluster_id that is not any input node."""
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(10,), (20,), (30,)], "doc_id long")
    edges = spark.createDataFrame(
        # (10,20) is in-contract; the rest reference foreign node 5/99
        [(10, 20), (5, 10), (20, 99), (5, 99)], "src long, dst long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, edges, "doc_id").collect()
    }
    assert got == {10: 10, 20: 10, 30: 30}


def test_tokenizer_agrees_on_vertical_tab(spark):
    """Java \\s includes \\x0B, RE2 \\s does not; the explicit class
    makes both engines split identically."""
    import duckdb

    from end_to_end_datapipeline_project_spark.llm_ops.text import (
        TOKENS_SQL,
        tokens_col,
    )

    txt = "alpha\x0bbeta gamma"
    df = spark.createDataFrame([(txt,)], "text string")
    spark_toks = df.select(tokens_col().alias("t")).first().t
    duck_toks = duckdb.sql(
        f"SELECT {TOKENS_SQL} FROM (SELECT '{txt}' AS text)"
    ).fetchone()[0]
    assert spark_toks == duck_toks == ["alpha", "beta", "gamma"]


def test_incremental_tfidf_reprices_old_docs(spark, sf_dir):
    """The incremental TF-IDF (oracle-proven equal to the rebuild) must
    actually SHIFT old docs' scores relative to base-only scoring —
    idf moves with the merged N/df — or the stat merge is dead code and
    the query silently degrades to scoring two corpora separately."""
    from pyspark.sql import Window as W

    from end_to_end_datapipeline_project_spark.llm_ops.text import (
        TFIDF_TOP_K,
        q_incremental_tfidf,
        tokens_col,
    )
    from end_to_end_datapipeline_project_spark.sources import (
        read_parquet_table,
    )

    inc_base = {
        (r.doc_id, r.term): r.tfidf
        for r in q_incremental_tfidf(spark, sf_dir).collect()
        if r.doc_id % 10 != 7
    }
    assert inc_base
    # base-only scoring: same pipeline restricted to the pre-ingest corpus
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        "doc_id % 10 != 7"
    )
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc(F.round("tfidf", 6)), F.asc("term")
    )
    pre = {
        (r.doc_id, r.term): r.tfidf
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))
        .collect()
    }
    shifted = sum(
        1
        for k, v in inc_base.items()
        if k in pre and abs(pre[k] - v) > 1e-9
    )
    assert shifted > 0, "ingest moved no old-doc score — df merge is dead"
