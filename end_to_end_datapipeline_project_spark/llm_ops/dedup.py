"""Deduplication operators over the ``documents`` corpus: exact-hash,
n-gram Jaccard, MinHash-LSH, SimHash.

All four are expressed with built-in Column functions (md5 / arrays /
higher-order lambdas / joins) so they run JVM-side and scale:

- **exact**: one hash-aggregate on the content fingerprint — the 100 TB
  baseline (shuffle on md5, perfectly balanced keys).
- **n-gram Jaccard**: inverted-index self-join on shingles (never a cross
  join) — candidate generation cost ∝ Σ posting-list², the classic
  pre-LSH approach.
- **MinHash-LSH**: per-seed min of md5(seed:shingle) → OR-amplified
  banding → candidate pairs → exact-Jaccard verification.  md5 is
  bit-identical in Spark and DuckDB, which makes even the LSH stage
  oracle-checkable.
- **SimHash**: 16-bit signatures from md5 nibbles with token-frequency
  weights; near-dup pairs by Hamming distance.

(The reference has only subset-dedup D1, gtfstransformerSilver.py:45;
these are the LLM-pipeline extensions from BASELINE.json's north star.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..lineage import cut, metrics
from ..registry import register
from ..sources import pin_parallelism, read_parquet_table
from .text import TOKENS_SQL, tokens_col

# --- shingles -------------------------------------------------------------


def shingles_sql(table: str = "documents") -> str:
    """DuckDB CTE body: distinct 3-gram word shingles per doc (1-based
    list indexing) over ``table`` — parameterized so oracles that
    pre-filter the corpus (e.g. the exact-duplicate collapse in
    q_minhash_lsh) can shingle a derived CTE instead of the raw
    ``documents`` view."""
    return f"""
  __toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM {table}
  ),
  __sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
               AS shingle
      FROM __toks WHERE len(toks) >= 3)
  ),
  __sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM __sh GROUP BY doc_id
  )
"""


#: DuckDB: distinct 3-gram word shingles per doc over the raw corpus
SHINGLES_SQL = shingles_sql()


def shingles(df: DataFrame) -> DataFrame:
    """Distinct 3-gram word shingles per doc: (doc_id, shingle)."""
    toks = df.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") >= 3
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("shingle"),
    )
    return sh.distinct()


def shingle_arrays(df: DataFrame) -> DataFrame:
    """Distinct 3-gram shingles per doc as ONE array column: (doc_id, shs).

    Map-side-only equivalent of ``shingles()`` (doc is the dedup scope,
    so ``array_distinct`` over the in-row transform = the global
    DISTINCT over exploded (doc_id, shingle) rows) — use this form
    whenever every consumer is per-doc (signatures, sizes, array-
    intersection verify); keep the row form for inverted-index joins.
    """
    toks = df.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") >= 3
    )
    return toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("shs"),
    )


# --- exact dedup ----------------------------------------------------------

#: DuckDB twin of :func:`fingerprint_col` — the normalized-content md5
#: every exact-dedup consumer keys on (q_dedup_exact, the q_minhash_lsh
#: pre-collapse, q_minhash_clusters reattachment)
FINGERPRINT_SQL = (
    "md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
)


def fingerprint_col() -> "F.Column":
    """Exact-content fingerprint: md5 of whitespace-normalized,
    case-folded text.  Bit-identical in Spark and DuckDB, so every
    pipeline stage keyed on it stays oracle-checkable."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim("text")), r"[ \t\n\x0b\f\r]+", " ")
    )


@register(
    "q_dedup_exact",
    f"""
  WITH __all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
  ),
  __fp AS (
    SELECT doc_id, {FINGERPRINT_SQL} AS fingerprint
    FROM __all
  )
  SELECT fingerprint,
         min(doc_id) AS canonical_doc_id,
         count(*) AS n_copies
  FROM __fp
  GROUP BY fingerprint
""",
    doc="Exact dedup: hash-groupBy on a normalized content fingerprint; "
    "canonical row = min(doc_id). Corpus is doubled so real duplicate "
    "groups exist to collapse.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    fp = doubled.select("doc_id", fingerprint_col().alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- n-gram Jaccard -------------------------------------------------------

JACCARD_VERIFY_SQL = """
  __pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM __sh a JOIN __sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ),
  __jac AS (
    SELECT doc_a, doc_b, shared,
           CAST(shared AS DOUBLE) / (sa.n_shingles + sb.n_shingles - shared)
             AS jaccard
    FROM __pairs
    JOIN __sizes sa ON doc_a = sa.doc_id
    JOIN __sizes sb ON doc_b = sb.doc_id
  )
"""


def jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Inverted-index self-join → exact Jaccard per candidate pair."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
    )


@register(
    "q_ngram_jaccard",
    f"""
  WITH {SHINGLES_SQL},
  {JACCARD_VERIFY_SQL}
  SELECT doc_a, doc_b, shared, round(jaccard, 6) AS jaccard
  FROM __jac WHERE jaccard >= 0.02
""",
    doc="3-gram-shingle Jaccard near-dup pairs via inverted-index self-join "
    "(candidate generation without a cross join).",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    jac = jaccard_pairs(shingles(docs))
    return jac.filter(F.col("jaccard") >= 0.02).select(
        "doc_a", "doc_b", "shared", F.round("jaccard", 6).alias("jaccard")
    )


# --- MinHash-LSH ----------------------------------------------------------

N_SEEDS = 8


def minhash_signatures(arrs: DataFrame) -> DataFrame:
    """Long-form (doc_id, seed, minhash) LSH signatures from per-doc
    shingle arrays — all N_SEEDS min-hashes as in-row array_min, no
    aggregate, no shuffle.

    md5 economy: the 8 seed-hash functions are the 4 disjoint 8-hex-char
    chunks of md5("0:"‖x) and md5("1:"‖x) — TWO md5 evaluations per
    shingle instead of eight (md5 dominates the signature stage; the
    slicing is free).  Chunks of one md5 are independent uniform 32-bit
    values, exactly what banding needs; 32 bits keeps chance minhash
    collisions negligible (min of ~10² shingle hashes sits ~2³²/10²
    deep).  The base-hash arrays are computed in their OWN projection so
    each is evaluated once per row — CollapseProject will not inline a
    non-cheap expression referenced 4 times (asserted by the md5-count
    plan test in tests/test_round2_ops.py).
    NB: per-seed closures must be built OUTSIDE any lambda —
    ``lambda x, s=s`` would make a two-argument lambda, which
    F.transform binds as (element, index), silently replacing the seed
    with the array index column.
    """

    def _base_hash(b: int):
        return F.transform(
            "shs", lambda x: F.md5(F.concat(F.lit(f"{b}:"), x))
        ).alias(f"h{b}")

    hashed = arrs.select(
        "doc_id", *[_base_hash(b) for b in range(N_SEEDS // 4)]
    )

    def _seed_min(s: int):
        base, chunk = divmod(s, 4)
        return F.array_min(
            F.transform(f"h{base}", lambda h: F.substring(h, 1 + 8 * chunk, 8))
        ).alias(f"m{s}")

    mh_wide = hashed.select(
        "doc_id", *[_seed_min(s) for s in range(N_SEEDS)]
    )
    stack_expr = ", ".join(f"{s}L, m{s}" for s in range(N_SEEDS))
    return mh_wide.select(
        "doc_id",
        F.expr(f"stack({N_SEEDS}, {stack_expr}) AS (seed, minhash)"),
    )


#: per-(seed,minhash) bucket occupancy cap, mirrored in the DuckDB
#: oracles.  32-bit minhash chunks make CHANCE signature collisions scale
#: with corpus size (mins concentrate near 2³²/n_shingles, so at the
#: billion-doc target accidental same-bucket pairs in an uncapped bucket
#: self-join grow quadratically and inflate the verify stage).  The cap
#: bounds any one bucket's pair fan-out at C(cap,2) — the same discipline
#: as the RHP occupancy cap in q_ann_hyperplane_lsh — while staying far
#: above the genuine near-dup cluster sizes LSH is tuned for (a bucket
#: beyond ~10³ members is a degenerate shingle, not a dup cluster).
MINHASH_BUCKET_CAP = 1024


#: DuckDB CTEs over ``__sh`` (doc_id, shingle): ``__mh`` holds every
#: doc's :data:`N_SEEDS` min-hashes, the 32-bit hex chunks of md5 per
#: 4 seeds (as :func:`minhash_signatures`), and ``__mhc`` keeps each
#: (seed, minhash) bucket's :data:`MINHASH_BUCKET_CAP` lowest doc_ids.
MINHASH_CTE_SQL = f"""__seeds AS (SELECT unnest(range(0, {N_SEEDS})) AS seed),
  __mh AS (
    SELECT doc_id, seed,
           min(substr(md5(CAST(seed // 4 AS VARCHAR) || ':' || shingle),
                      CAST(1 + 8 * (seed % 4) AS INTEGER), 8)) AS minhash
    FROM __sh CROSS JOIN __seeds
    GROUP BY doc_id, seed
  )"""
MINHASH_CAPPED_CTE_SQL = f"""{MINHASH_CTE_SQL},
  __mhc AS (
    SELECT doc_id, seed, minhash FROM (
      SELECT *, row_number() OVER (
        PARTITION BY seed, minhash ORDER BY doc_id) AS bn
      FROM __mh)
    WHERE bn <= {MINHASH_BUCKET_CAP}
  )"""


#: buckets larger than this get chunked in the SELF-pair kernel (the
#: heavy-hitter discipline of q_salted_join applied to LSH): a single
#: (seed, minhash) key's pair fan-out is an intra-key cartesian AQE
#: skew-join cannot split — the ×10 skew probe measured one 72 s task
#: (11.8× straggler) when 5% of docs shared one bucket.  Cold buckets
#: pay zero replication.
MINHASH_CHUNK_MIN = 256

#: chunk count for hot buckets: each hot bucket's pair work spreads
#: over CHUNKS² join subkeys (≤ (CAP/CHUNKS)² ≈ 16k pair-candidates per
#: subkey at the cap), at the cost of replicating only hot-bucket
#: signature rows ×CHUNKS per side
MINHASH_CHUNKS = 8

#: the PROBE-pair kernel's chunk threshold sits at cap/2, far above the
#: self-pair kernel's MINHASH_CHUNK_MIN: probe work is |probe ∩ bucket|
#: × |bucket| — linear in occupancy, not C(n,2) — so spreading pays
#: only when a bucket rides near the cap, while chunking the mid-size
#: buckets an ×100 replica corpus produces everywhere fattens the probe
#: side past AQE's broadcast threshold and demotes the probe join to a
#: sort-merge over the whole index (measured at the ×100 decade cell:
#: 131 s with the 256 threshold vs 62 s unchunked; cap/2 keeps the
#: broadcast for every non-degenerate bucket)
INCREMENTAL_CHUNK_MIN = MINHASH_BUCKET_CAP // 2


def _rank_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash) signature rows plus ``__bn``, the row's
    doc_id rank inside its (seed, minhash) bucket, and ``__sz``, the
    bucket's size — one window pass (one exchange) that serves both the
    occupancy cap (``__bn <= MINHASH_BUCKET_CAP``) and the pair kernels'
    hot-bucket chunking (:func:`_chunk_annotated`)."""
    bucket = Window.partitionBy("seed", "minhash")
    return sig.withColumn(
        "__bn", F.row_number().over(bucket.orderBy("doc_id"))
    ).withColumn("__sz", F.count(F.lit(1)).over(bucket))


def _ranked_index(arrs: DataFrame) -> DataFrame:
    """:func:`_rank_buckets` over the signatures of per-doc shingle
    arrays, checkpointed: the md5-per-shingle signature pass runs once,
    and the capped index, its spill and every pair kernel over them are
    scans of this table."""
    return cut(_rank_buckets(minhash_signatures(arrs)), "_ranked_index")


def minhash_index_with_spill(arrs: DataFrame) -> tuple:
    """The capped LSH signature index over per-doc shingle arrays, plus
    its SPILL side table.  Returns ``(idx, spill)``, both
    (doc_id, seed, minhash).

    Invariant: ``idx ∪ spill`` is exactly :func:`minhash_signatures`
    of ``arrs`` (disjoint), and ``idx`` holds each (seed, minhash)
    bucket's :data:`MINHASH_BUCKET_CAP` lowest doc_ids — the rows the
    DuckDB oracles' ``__mhc`` keeps.  The spill is stored ingest-tier
    state (tiny: only degenerate buckets overflow): an exact-duplicate
    ingest can relabel a spilled row to a smaller doc_id and make it
    re-enter the cap (:func:`lsh_maintenance_step`)."""
    return _split_index(_ranked_index(arrs))


def _split_index(ranked: DataFrame) -> tuple:
    """(idx, spill) of a :func:`_rank_buckets` table: rows inside and
    beyond the occupancy cap, projected back to (doc_id, seed,
    minhash)."""
    inside = F.col("__bn") <= MINHASH_BUCKET_CAP
    cols = ("doc_id", "seed", "minhash")
    return (
        ranked.filter(inside).select(*cols),
        ranked.filter(~inside).select(*cols),
    )


def minhash_index(arrs: DataFrame) -> DataFrame:
    """The capped index half of :func:`minhash_index_with_spill` — at
    100 TB the STORED table an ingest tier maintains, bucketed by
    (seed, minhash)."""
    return minhash_index_with_spill(arrs)[0]


def _chunk_annotated(ranked: DataFrame, chunk_min: int) -> DataFrame:
    """The capped rows of a :func:`_rank_buckets` table (or any subset
    of them) with the hot-bucket partner-chunk columns both pair kernels
    join on: ``__ck`` is the member's chunk ((rank-1) % CHUNKS in a
    bucket of more than ``chunk_min`` members, else 0) and ``__fan`` the
    chunks its partner side fans out over (all CHUNKS in a hot bucket,
    else [0]).  Rank and size are the whole bucket's, so chunks stay
    distinct-per-member and hotness uniform-per-bucket on any subset —
    all a kernel needs to meet every pair exactly once."""
    hot = F.col("__sz") > chunk_min
    return ranked.filter(F.col("__bn") <= MINHASH_BUCKET_CAP).select(
        "doc_id",
        "seed",
        "minhash",
        F.when(hot, (F.col("__bn") - 1) % MINHASH_CHUNKS)
        .otherwise(F.lit(0))
        .cast("int")
        .alias("__ck"),
        F.when(hot, F.sequence(F.lit(0), F.lit(MINHASH_CHUNKS - 1)))
        .otherwise(F.array(F.lit(0)))
        .alias("__fan"),
    )


def _chunked_self_pairs(ranked: DataFrame) -> DataFrame:
    """Every (doc_a < doc_b) pair sharing a bucket of the capped index
    held in the :func:`_rank_buckets` table ``ranked`` — the self-pair
    kernel.  In a hot bucket (> :data:`MINHASH_CHUNK_MIN` members) the
    a-side fans out over the partner chunk ``__cb`` and the b-side over
    ``__ca``, and the join keys on (seed, minhash, ca, cb): pair (i, j)
    meets exactly once, in cell (ck_i, ck_j), and one mega-bucket's
    C(cap, 2) cartesian spreads over CHUNKS² shuffle keys instead of
    landing on one task.  Emitted pairs are IDENTICAL to the plain
    capped self-join the DuckDB oracles use (pinned by
    test_minhash_candidates_match_plain_capped_self_join)."""
    sig = _chunk_annotated(ranked, MINHASH_CHUNK_MIN)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        "seed",
        "minhash",
        F.col("__ck").alias("__ca"),
        F.explode("__fan").alias("__cb"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        "seed",
        "minhash",
        F.explode("__fan").alias("__ca"),
        F.col("__ck").alias("__cb"),
    )
    # pair dedup on an EXPLICIT width-n exchange instead of .distinct():
    # the pair rows are two longs, so AQE's byte-based coalescing
    # collapsed the dedup agg (and everything downstream of it — the
    # whole verify) to 4 tasks at ×10 skew, med 9 s each on a 32-core
    # box.  A user-numbered repartition pins the width (AQE respects
    # REPARTITION_BY_NUM), the dedup agg reuses the same hash
    # partitioning with no extra exchange, and the verify joins inherit
    # the parallelism.  Map-side partial dedup is no loss: a pair's per-
    # seed copies carry different (seed, chunk) join keys, so they land
    # in different partitions and never collapsed map-side anyway.
    n = ranked.sparkSession.sparkContext.defaultParallelism
    return (
        a.join(b, ["seed", "minhash", "__ca", "__cb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .repartition(n, "doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _chunked_probe_pairs(ranked: DataFrame, probe_ids: DataFrame) -> DataFrame:
    """Every (doc_a < doc_b) pair sharing a bucket of the capped index
    held in the :func:`_rank_buckets` table ``ranked`` with at least one
    endpoint in ``probe_ids`` (one column, doc_id) — the probe-pair
    kernel.  The index member keeps its chunk and the probe row fans out
    over all chunks of a hot bucket (> :data:`INCREMENTAL_CHUNK_MIN`
    members), so a pair meets once in the member's chunk (a both-probe
    pair meets twice and collapses in the keyed dedup) and a near-cap
    bucket's |probe ∩ bucket| × cap work spreads over CHUNKS shuffle
    keys.  Only hot-bucket probe rows replicate; the index side never
    does.  Emitted pairs are identical to the plain join."""
    sig = _chunk_annotated(ranked, INCREMENTAL_CHUNK_MIN)
    probe = sig.join(probe_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("d_id"),
        "seed",
        "minhash",
        F.explode("__fan").alias("__ck"),
    )
    # width-pinned pair dedup: the self-pair kernel's rationale
    n = ranked.sparkSession.sparkContext.defaultParallelism
    return (
        probe.join(
            sig.select(
                F.col("doc_id").alias("i_id"), "seed", "minhash", "__ck"
            ),
            ["seed", "minhash", "__ck"],
        )
        .filter(F.col("i_id") != F.col("d_id"))
        .select(
            F.least("d_id", "i_id").alias("doc_a"),
            F.greatest("d_id", "i_id").alias("doc_b"),
        )
        .repartition(n, "doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_candidates(arrs: DataFrame) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) over per-doc shingle arrays:
    the OR-amplified (r=1) bucket self-join of the capped index —
    degenerate buckets keep their :data:`MINHASH_BUCKET_CAP` lowest
    doc_ids, so the DuckDB oracle mirrors the output exactly.  A thin
    caller of :func:`_chunked_self_pairs`.

    The chunked self-join is the kept form: an in-row bucket-SET
    expansion lost the interleaved A/B at every probe scale
    (OPTIMIZATION_r16.md §4)."""
    return _chunked_self_pairs(_ranked_index(arrs))


#: raw-bytes ceiling (xxhash64 longs) for the BROADCAST verify form.
#: At or below it, verify_candidates broadcasts the array table for
#: the doc_b join and shuffle-hash-joins it for the doc_a join — so a
#: candidate-pair row NEVER crosses an exchange carrying a shingle
#: array, and no stage sorts pair rows at all.  Above it, the
#: pair-keyed shuffle form takes over (both joins exchange).  512 MB of
#: raw longs builds an ~1.5 GB UnsafeHashedRelation — executor-feasible
#: — and covers ~60 M shingles ≈ 6 M docs of this corpus's shape, far
#: beyond any decade probe (×100 measures 26 M shingles / 208 MB).  Why
#: it matters: at the ×100 decade cell the shuffle form's second join
#: sort-merged ~10⁹ pair rows each carrying a ~500-byte array, a fat
#: exchange+sort whose spill cut per-pair verify throughput 1.5× vs ×30.
VERIFY_BCAST_MAX = 512 << 20

#: raw-bytes FLOOR for the broadcast verify form.  Below it the
#: pair-keyed shuffle form is strictly faster: the broadcast build
#: costs more than the small shuffle it avoids.  Interleaved
#: same-process A/B of q_minhash_lsh (min of 4 / 3, local[32]): sf0.1
#: (~2 MB of arrays) shuffle 2.61 s vs broadcast 3.61 s; ×10 (~21 MB)
#: shuffle 6.32 s vs broadcast 7.15 s.  Every sf≤1 bench/oracle run
#: keeps the shuffle form; every decade-probe regime (×30 ≈ 62 MB,
#: ×100 ≈ 208 MB) gets the broadcast form.
VERIFY_BCAST_MIN = 32 << 20


def checkpoint_arrs_with_bytes(df: DataFrame) -> tuple:
    """:func:`~..lineage.cut` of a shingle-array frame (…, shs) with
    the verify size gate's input riding the checkpoint job: a
    ``sum(size(shs))`` metric the cut observes.  Returns
    ``(checkpointed_df, arr_bytes)``, ``arr_bytes`` = 8 × total shingle
    longs — the exact unit :data:`VERIFY_BCAST_MIN`/
    :data:`VERIFY_BCAST_MAX` gate on — so :func:`verify_candidates`
    picks its form without a stats job."""
    ck, m = cut(df, "checkpoint_arrs_with_bytes", observe=[F.sum(F.size("shs")).alias("n")])
    return ck, int(m["n"] or 0) * 8


def verify_candidates(
    arrs: DataFrame,
    cand: DataFrame,
    *,
    arr_bytes: int | None = None,
    force_form: str | None = None,
) -> DataFrame:
    """Exact Jaccard of candidate (doc_a, doc_b) pairs by per-doc
    shingle-ARRAY intersection — the one verify stage of the LSH chain.
    Returns (doc_a, doc_b, jaccard rounded to 6 places).  Two doc-keyed
    joins carry one array per row and shared = |array_intersect| is
    computed map-side, so cost is Σ_candidates (|A| + |B|), independent
    of how many non-candidate pairs share a shingle (the exploded
    pair×shingle fan-out measured 150× slower at the ×10 probe).

    The arrays carry xxhash64(shingle) LONGS, not shingle strings:
    intersection/union sizes (all jaccard needs) survive short of a
    64-bit collision (≈ 4e-17 per doc), and the pair-keyed joins move
    8-byte elements — the string form's transient heap drove 200 s
    GC-bound straggler tasks at the ×10 hot-key probe.

    Join form: inside the band [:data:`VERIFY_BCAST_MIN`,
    :data:`VERIFY_BCAST_MAX`] of array bytes the doc_a join is a
    width-pinned SHUFFLE_HASH (only two-long pair rows cross the wire)
    and the doc_b join BROADCASTS the arrays; outside it both joins
    shuffle (rationale on the constants).  ``arr_bytes`` is the array
    table's size when the caller knows it
    (:func:`checkpoint_arrs_with_bytes`); ``None`` runs a one-row stats
    job.  ``force_form`` (``'broadcast'`` / ``'shuffle'``) pins the form
    outright for tests and plan probes; any other value but ``None``
    raises ``ValueError``."""
    if force_form not in (None, "broadcast", "shuffle"):
        raise ValueError(
            "force_form must be None, 'broadcast' or 'shuffle', "
            f"got {force_form!r}"
        )
    varrs = arrs.select(
        "doc_id",
        F.transform("shs", lambda s: F.xxhash64(s)).alias("shs"),
    )
    if force_form is None:
        if arr_bytes is None:
            # one-row stats job — callers pass checkpointed array
            # tables, so this costs a scan of (doc_id, shs) only,
            # never re-shingling
            arr_bytes = (
                arrs.agg(F.sum(F.size("shs"))).first()[0] or 0
            ) * 8
        form = (
            "broadcast"
            if VERIFY_BCAST_MIN <= arr_bytes <= VERIFY_BCAST_MAX
            else "shuffle"
        )
    else:
        form = force_form
    if form == "broadcast":
        n = arrs.sparkSession.sparkContext.defaultParallelism
        joined = (
            cand.repartition(n, "doc_a")
            .join(
                varrs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("shs").alias("arr_a"),
                ).hint("shuffle_hash"),
                "doc_a",
            )
            .join(
                F.broadcast(
                    varrs.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("shs").alias("arr_b"),
                    )
                ),
                "doc_b",
            )
        )
    else:
        joined = cand.join(
            varrs.select(
                F.col("doc_id").alias("doc_a"), F.col("shs").alias("arr_a")
            ),
            "doc_a",
        ).join(
            varrs.select(
                F.col("doc_id").alias("doc_b"), F.col("shs").alias("arr_b")
            ),
            "doc_b",
        )
    out = (
        joined
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("shared"),
            F.size("arr_a").alias("n_a"),
            F.size("arr_b").alias("n_b"),
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
            6,
        ).alias("jaccard"),
    )


# --- exact-duplicate collapse --------------------------------------------


def exact_groups(docs: DataFrame) -> tuple:
    """The exact-duplicate collapse — the group step of the LSH chain.
    Returns ``(digests, groups)``: digests (doc_id, fp) for every doc of
    the (doc_id, text) frame ``docs``, and groups (fp, rep_id, text),
    one row per exact-content fingerprint group whose representative
    ``rep_id`` is the group's min doc_id.

    Identical texts are exact duplicates, not near duplicates, so only
    representatives enter the pairwise stages: a k-copy group costs one
    signature row instead of C(k, 2) verified pairs, and members
    reattach through the fingerprint (:func:`_reattach`).  Without the
    collapse a 5%-identical overlay (2,500 copies of one text) drove
    q_minhash_lsh to 7.1× wall and 40.2 M pairs at the ×10 skew probe.
    Plan shape: one digest-only shuffle (doc_id + md5, never the text)
    agrees on group minima, then a doc_id-keyed LEFT SEMI join keeps the
    representatives' rows (AQE broadcasts the minima at test scale).  A
    semi join, not an inner one, so the planner's size estimate of
    everything downstream stays the input's and the LSH joins plan as
    broadcasts up front (an inner join's estimate is the product of its
    sides: measured +3 Spark jobs on q_minhash_lsh at sf0.1).
    Mirrored in DuckDB by :func:`collapse_sql`."""
    digests = docs.select("doc_id", fingerprint_col().alias("fp"))
    reps = digests.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # fp is re-derived from the representative's text after the join,
    # so a consumer that drops it (q_minhash_lsh) hashes each text once
    groups = docs.join(reps.select("doc_id"), "doc_id", "left_semi").select(
        fingerprint_col().alias("fp"), F.col("doc_id").alias("rep_id"), "text"
    )
    return digests, groups


def _rep_arrays(groups: DataFrame) -> tuple:
    """Checkpointed (doc_id, shs) shingle arrays of the group
    representatives, with their byte size for the verify gate
    (:func:`checkpoint_arrs_with_bytes`).  The texts are pinned to all
    cores AFTER the collapse: its join output is a few MB, so AQE
    would coalesce it to 1-4 partitions and serialize the md5-per-
    shingle signature stage (measured 6.5 s → 32 s at the ×10 probe
    when the pin sat before the collapse)."""
    reps = groups.select(F.col("rep_id").alias("doc_id"), "text")
    return checkpoint_arrs_with_bytes(
        shingle_arrays(pin_parallelism(reps, "doc_id"))
    )


def collapse_sql(src: str = "documents") -> str:
    """DuckDB CTEs mirroring :func:`exact_groups`: ``__repdocs``
    is ``src`` restricted to per-fingerprint min-doc_id representatives,
    and ``__repmap`` carries every doc's (doc_id, rep_id) for
    reattachment."""
    return f"""__fpx AS (
    SELECT doc_id, {FINGERPRINT_SQL} AS fingerprint FROM {src}
  ),
  __repmap AS (
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id
    FROM __fpx
  ),
  __repdocs AS (
    SELECT * FROM {src} WHERE doc_id IN (SELECT rep_id FROM __repmap)
  )"""


@register(
    "q_minhash_lsh",
    f"""
  WITH {collapse_sql()},
  {shingles_sql("__repdocs")},
  {MINHASH_CAPPED_CTE_SQL},
  __cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM __mhc a JOIN __mhc b
      ON a.seed = b.seed AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
  ),
  {JACCARD_VERIFY_SQL}
  SELECT c.doc_a, c.doc_b,
         round(coalesce(j.jaccard, 0.0), 6) AS jaccard
  FROM __cand c
  LEFT JOIN __jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
""",
    doc=f"MinHash-LSH near-dup: {N_SEEDS} min-hashes per doc (the 32-bit "
    "hex chunks of 2 seeded md5s — 4× less hashing than one md5 per "
    "seed), OR-amplified banding (r=1) for candidates, exact-Jaccard "
    "verify. md5 parity makes the full LSH pipeline oracle-checkable. "
    "Exact-duplicate texts collapse to one min-doc_id representative "
    "BEFORE signatures (exact_groups, oracle-mirrored): a k-copy "
    "group contributes one signature row instead of C(k,2) pairs — "
    "without it the ×10 skew probe's identical-text overlay blew up one "
    "hot bucket; members reattach via the fingerprint map in "
    "q_minhash_clusters.",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # per-doc distinct shingle SETS are built map-side (array_distinct
    # over the in-row 3-gram transform): signatures, both verify sides
    # and sizes all derive from this one array column with zero
    # shuffles before the bucket join
    arrs, nbytes = _rep_arrays(exact_groups(docs)[1])
    return verify_candidates(arrs, minhash_candidates(arrs), arr_bytes=nbytes)


# --- SimHash --------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_sql() -> str:
    """DuckDB: 16-bit simhash from the first 4 md5 nibbles per token."""
    nibbles = ", ".join(
        f"strpos('0123456789abcdef', substr(md5(word), {k + 1}, 1)) - 1 AS n{k}"
        for k in range(4)
    )
    bit_sums = ", ".join(
        f"sum(CASE WHEN ((n{i // 4} >> {i % 4}) & 1) = 1 THEN c ELSE -c END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
  __words AS (
    SELECT doc_id, word, count(*) AS c FROM (
      SELECT doc_id, unnest({TOKENS_SQL}) AS word FROM documents)
    GROUP BY doc_id, word
  ),
  __nib AS (SELECT doc_id, c, {nibbles} FROM __words),
  __bits AS (SELECT doc_id, {bit_sums} FROM __nib GROUP BY doc_id),
  __sig AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM __bits)
"""


@register(
    "q_simhash",
    f"""
  WITH {_simhash_sql()}
  SELECT doc_id, simhash FROM __sig
""",
    doc="16-bit SimHash signatures: md5-nibble bits weighted by token "
    "frequency (LLM-ops extension).",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_signatures(spark, sf_dir)


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(tokens_col()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nib = words.select(
        "doc_id",
        "c",
        *[
            (
                F.conv(F.substring(F.md5("word"), k + 1, 1), 16, 10).cast("int")
            ).alias(f"n{k}")
            for k in range(4)
        ],
    )
    bit_sums = [
        F.sum(
            F.when(
                F.expr(f"((n{i // 4} >> {i % 4}) & 1) = 1"), F.col("c")
            ).otherwise(-F.col("c"))
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = nib.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("bigint").alias("simhash"))


@register(
    "q_simhash_pairs",
    f"""
  WITH {_simhash_sql()}
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM __sig a JOIN __sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""",
    doc="SimHash near-dup pairs at Hamming ≤ 2. (Self-join here; at scale "
    "the signatures are banded into buckets first, like MinHash-LSH.)",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _simhash_signatures(spark, sf_dir)
    a = sig.alias("a")
    b = sig.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming,
        )
        .filter(F.col("hamming") <= 2)
    )


# --- dedup clustering (connected components) ------------------------------

CLUSTER_JACCARD = 0.02
MAX_CC_ITERS = 20
#: the largest edge list connected_components labels on the driver.
#: Measured on local[4] (4 cores, 6 GB driver heap; median of 3, each
#: path forced, noop write of the result), driver / Spark path seconds: random graphs (n = E, one giant
#: component) 0.5M edges 6.1 / 20.2, 1M 8.7 / 27.7, 2M 19.6 / 65.3, 4M
#: 28.8 / 134.3; disjoint 10-cliques (the near-dup wall, which star
#: contraction empties) 0.5M 2.2 / 2.6, 1M 4.2 / 3.5, 2M 7.4 / 4.3, 4M
#: 16.1 / 7.6.  The cliques cross between 0.5M and 1M edges.  At ×10
#: documents q_minhash_clusters (249k edges) reads 34.5 / 34.1 s a query
DRIVER_CC_MAX_EDGES = 500_000


def connected_components(
    nodes: DataFrame | None,
    edges1: DataFrame,
    id_col: str,
    max_iters: int = MAX_CC_ITERS,
) -> DataFrame:
    """Connected components by min label: every node's cluster_id is the
    smallest id of its component.  Returns (id_col, cluster_id,
    is_canonical).

    ``nodes``: one column ``id_col``; ``edges1``: columns (src, dst), one
    row per undirected edge with BOTH endpoints present in ``nodes``.
    Every in-repo caller builds its edges from its node set; an edge
    with a foreign endpoint is DROPPED on both paths below, never merged
    through (it would otherwise emit a foreign endpoint as a cluster_id,
    ADVICE r13).  ``nodes=None`` means the nodes are the endpoints of
    ``edges1``: the contract then holds by construction; the driver path
    then joins no node list, and the Spark path derives it from the
    edges.

    The edges are cut once; the cut counts them inside its own job, and
    that count picks the path:

    - **Driver** (at most ``DRIVER_CC_MAX_EDGES`` edges, the largest
      size measured at which it beat the Spark path on both a random
      graph and a clique wall).  One job collects the edges; with a node
      list, one more collects the endpoints that are nodes (a semi-join
      of ``nodes`` against the broadcast endpoint list) and only edges
      between them are kept.  numpy labels the nodes (:func:`_min_labels`)
      and the label map comes back as a local frame, joined to
      ``nodes`` with ``coalesce(label, id)``.  An empty edge list
      collects nothing.
    - **Spark** (a larger edge list): the loop
      below.  One STAR-CONTRACTION round maps every node to m(v) =
      min(v, min neighbor) and rewrites the edges through the map,
      dropping self-loops and keeping each pair once (its cut counts
      them at no job).  The contract is enforced there: only neighbours
      that are nodes count toward the minimum, the left join from
      ``nodes`` drops foreign sources and the rewrite's inner joins
      drop every edge with a foreign endpoint.  No pair left means
      label(v) = m(v) and the loop does not run.  Otherwise each
      iteration does an edge-neighbor min step AND a pointer-jumping
      step (label := label of the label holder), so convergence takes
      O(log diameter) rounds: a path of length 2^20 converges in ~20
      rounds, which is what makes the fixed ``max_iters`` budget safe
      (plain one-hop propagation hit the cap on sparse sf0.001 chains).
      Labels never increase, so an iteration that lowers no label is
      the fixed point: each iteration's cut observes ``count_if(label <
      previous label)`` and the loop stops at the first 0 or after
      ``max_iters``.  Contraction is exact: v and m(v) share an edge,
      and a component's minimum g has only larger neighbours, so m(g) =
      g stays its label; expansion is label(v) = label(m(v)).  It is
      what makes near-dup CLIQUE walls affordable: a k-clique's C(k,2)
      edges all map to (min, min) self-loops and vanish before the loop
      shuffles them (the ×100 replica corpus is 5,000 disjoint
      ~100-cliques, ~25M pair edges contracting to ~0; the r12 attempt
      without contraction spent 47 min shuffling them every iteration).

    Measured on local[4] with AQE, ``collect()`` included, jobs per call
    driver / Spark path (the latter with automatic broadcasts off, so no
    cut's broadcast hint counts): 200-node chain 6 / 63, edgeless 200
    nodes 2 / 9, 30-clique 6 / 12.  On the driver
    path with a node list: the edges cut, the edges collect, the
    semi-join's broadcast and scan, and the final join's broadcast and
    scan; without one, the edges cut and collect only."""
    edges1, n_edges = cut(
        edges1.select("src", "dst"),
        "connected_components.edges1",
        observe=[F.count(F.lit(1)).alias("n")],
    )
    if n_edges["n"] <= DRIVER_CC_MAX_EDGES:
        return _driver_components(nodes, edges1, n_edges["n"], id_col)

    # --- star contraction: m(v) = min(v, min neighbor) ---------------
    both = edges1.unionAll(
        edges1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if nodes is None:
        # every endpoint is some row's src
        nodes = both.select(F.col("src").alias(id_col)).distinct()
    nbr_min = (
        both.join(nodes.select(F.col(id_col).alias("dst")), "dst", "left_semi")
        .groupBy("src")
        .agg(F.min("dst").alias("__nm"))
    )
    cmap = cut(
        nodes.join(nbr_min, nodes[id_col] == nbr_min.src, "left").select(
            F.col(id_col),
            # least() skips nulls: an isolated node maps to itself
            F.least(F.col(id_col), F.col("__nm")).alias("__m"),
        ),
        "connected_components.cmap",
    )
    mm_src = cmap.select(F.col(id_col).alias("src"), F.col("__m").alias("__ms"))
    mm_dst = cmap.select(F.col(id_col).alias("dst"), F.col("__m").alias("__md"))
    # the contracted edges as a half list, each unordered pair once
    half, n_half = cut(
        edges1.join(mm_src, "src")
        .join(mm_dst, "dst")
        .select(
            F.least("__ms", "__md").alias("src"),
            F.greatest("__ms", "__md").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "connected_components.contracted",
        observe=[F.count(F.lit(1)).alias("n")],
    )
    if not n_half["n"]:
        # no contracted edge: every contracted node is its own
        # component, so label(v) = m(v)
        return _clusters(cmap, "__m", id_col)
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cnodes = cmap.select(F.col("__m").alias(id_col)).distinct()

    labels = cnodes.select(F.col(id_col), F.col(id_col).alias("label"))
    for _ in range(max_iters):
        # each node adopts min(own label, neighbors' labels)
        prop = (
            edges.join(labels, edges.src == labels[id_col])
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, id_col, "left").select(
            id_col,
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            F.col("label").alias("__old"),
        )
        # pointer jumping: adopt the label of the node my label points
        # at (always <= my label since labels are reachable minima) —
        # halves the remaining path length every round
        holder = stepped.select(
            F.col(id_col).alias("__h_id"), F.col("label").alias("__h_label")
        )
        # the cut (O(1) plan depth per iteration) also counts the labels
        # that fell this round: none fell = converged
        labels, moved = cut(
            stepped.join(holder, stepped.label == F.col("__h_id"), "left").select(
                id_col,
                F.least(
                    F.col("label"),
                    F.coalesce("__h_label", F.col("label")),
                ).alias("label"),
                "__old",
            ),
            "connected_components.labels",
            observe=[F.count_if(F.col("label") < F.col("__old")).alias("n")],
            drop=["__old"],
        )
        if not moved["n"]:
            break
    # expand the contraction: label(v) = label(m(v))
    return _clusters(
        cmap.join(labels.withColumnRenamed(id_col, "__m"), "__m"), "label", id_col
    )


def _driver_components(
    nodes: DataFrame | None, edges1: DataFrame, n: int, id_col: str
) -> DataFrame:
    """:func:`connected_components`' driver path over the cut ``edges1``
    of ``n`` rows: numpy labels the endpoints, and the label map comes
    back as a local frame joined to ``nodes``."""
    if not n:
        # no edge: every node is its own component (an empty local
        # relation when the nodes are the endpoints)
        if nodes is None:
            nodes = edges1.select(F.col("src").alias(id_col)).limit(0)
        return _clusters(
            nodes.select(id_col, F.col(id_col).alias("__label")), "__label", id_col
        )
    spark = edges1.sparkSession
    id_type = edges1.schema["src"].dataType
    pdf = edges1.toPandas()
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    if nodes is not None:
        # the contract: only edges between two nodes count
        ends = spark.createDataFrame(
            pd.DataFrame({id_col: np.unique(np.concatenate([src, dst]))}),
            StructType([StructField(id_col, id_type)]),
        )
        known = (
            nodes.select(id_col)
            .join(F.broadcast(ends), id_col, "left_semi")
            .toPandas()[id_col]
            .to_numpy()
        )
        keep = np.isin(src, known) & np.isin(dst, known)
        src, dst = src[keep], dst[keep]
    ids, ix = np.unique(np.concatenate([src, dst]), return_inverse=True)
    root = _min_labels(ix[: len(src)], ix[len(src) :], len(ids))
    labels = spark.createDataFrame(
        pd.DataFrame({id_col: ids, "__label": ids[root]}),
        StructType([StructField(id_col, id_type), StructField("__label", id_type)]),
    )
    if nodes is not None:
        labels = nodes.join(labels, id_col, "left").select(
            id_col, F.coalesce("__label", id_col).alias("__label")
        )
    return _clusters(labels, "__label", id_col)


def _min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Index of the smallest node of each node's component, for nodes
    0..n-1 and the edges (src[i], dst[i]).  The min-label hook of the
    Spark loop on the driver: every root adopts the smallest root across
    its edges (both orientations), then pointer jumping (lab := lab[lab])
    until every node points at a root.  Labels only fall, so a round
    that moves none is the fixed point: no edge joins two roots."""
    lab = np.arange(n)
    while True:
        hooked = lab.copy()
        np.minimum.at(hooked, lab[src], lab[dst])
        np.minimum.at(hooked, lab[dst], lab[src])
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, lab):
            return lab
        lab = hooked


def _clusters(df: DataFrame, label: str, id_col: str) -> DataFrame:
    return df.select(
        id_col,
        F.col(label).alias("cluster_id"),
        (F.col(id_col) == F.col(label)).cast("int").alias("is_canonical"),
    )


@register(
    "q_dedup_clusters",
    f"""
  WITH RECURSIVE {SHINGLES_SQL},
  {JACCARD_VERIFY_SQL},
  __edges1 AS (
    SELECT doc_a AS src, doc_b AS dst FROM __jac
    WHERE jaccard >= {CLUSTER_JACCARD}
  ),
  __edges AS (
    SELECT src, dst FROM __edges1
    UNION ALL SELECT dst, src FROM __edges1
  ),
  __reach (doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT q.doc_id, e.dst FROM __reach q JOIN __edges e ON e.src = q.r
  )
  SELECT doc_id,
         min(r) AS cluster_id,
         CAST(doc_id = min(r) AS INTEGER) AS is_canonical
  FROM __reach GROUP BY doc_id
""",
    doc="Near-dup clustering: connected components over the Jaccard≥0.02 "
    "pair graph by iterative min-label propagation (each doc adopts the "
    "smallest doc_id reachable; canonical = cluster min). An edge list "
    "of at most DRIVER_CC_MAX_EDGES edges is labelled on the driver after "
    "one collect; a larger one runs the Spark loop, which "
    "cuts lineage once per iteration and stops at the first iteration "
    "that lowers no label, a count the cut observes inside its own job; "
    "the oracle is a recursive-CTE "
    "transitive closure — an iterative distributed algorithm checked "
    "against exact SQL semantics.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one documents read serves both the node list (doc_id projection —
    # column pruning keeps it narrow) and the shingle source
    full = docs_with_text(spark, sf_dir)
    docs = full.select("doc_id")
    jac = jaccard_pairs(shingles(full))
    edges1 = jac.filter(F.col("jaccard") >= CLUSTER_JACCARD).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(docs, edges1, "doc_id")


def docs_with_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, "documents")


#: minimum verified Jaccard for a MinHash cluster edge — the usual
#: near-dup regime (vs CLUSTER_JACCARD's deliberately-low 0.02, which
#: exists so the sparse test corpus forms multi-doc components)
MINHASH_CLUSTER_JACCARD = 0.5


#: full collapse → LSH → CC → reattach rebuild — the oracle for BOTH
#: q_minhash_clusters and q_incremental_minhash_clusters (the
#: incremental gate is "maintenance ≡ rebuild", exact on the fast path
#: and via the occupancy-guard fallback otherwise)
MINHASH_CLUSTERS_SQL = f"""
  WITH RECURSIVE {collapse_sql()},
  {shingles_sql("__repdocs")},
  {MINHASH_CAPPED_CTE_SQL},
  __cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM __mhc a JOIN __mhc b
      ON a.seed = b.seed AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
  ),
  {JACCARD_VERIFY_SQL},
  __edges1 AS (
    SELECT j.doc_a AS src, j.doc_b AS dst
    FROM __cand c
    JOIN __jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    WHERE j.jaccard >= {MINHASH_CLUSTER_JACCARD}
  ),
  __edges AS (
    SELECT src, dst FROM __edges1
    UNION ALL SELECT dst, src FROM __edges1
  ),
  __reach (doc_id, r) AS (
    SELECT DISTINCT rep_id AS doc_id, rep_id AS r FROM __repmap
    UNION
    SELECT q.doc_id, e.dst FROM __reach q JOIN __edges e ON e.src = q.r
  ),
  __repcl AS (
    SELECT doc_id AS rep_id, min(r) AS cluster_id FROM __reach
    GROUP BY doc_id
  )
  SELECT m.doc_id, c.cluster_id,
         CAST(m.doc_id = c.cluster_id AS INTEGER) AS is_canonical
  FROM __repmap m JOIN __repcl c ON m.rep_id = c.rep_id
"""


@register(
    "q_minhash_clusters",
    MINHASH_CLUSTERS_SQL,
    doc="Collapse-then-cluster near-dup assignment, the downstream half "
    "of q_minhash_lsh's exact-duplicate pre-collapse: LSH + verified "
    f"Jaccard ≥ {MINHASH_CLUSTER_JACCARD} edges over exact-distinct "
    "representatives only, connected components over that (small) rep "
    "graph, then every doc REATTACHES through the fingerprint map — so "
    "a 10⁶-copy boilerplate group costs one signature row and one "
    "map-join row per member, never C(n,2) pairs. cluster_id is the "
    "min doc_id over all members (each rep is already its group's "
    "min), canonical = the cluster min itself. The oracle mirrors "
    "collapse, LSH, a recursive-CTE transitive closure, and the "
    "reattachment join.",
)
def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_cluster_assignments(
        read_parquet_table(spark, sf_dir, "documents")
    )


def minhash_cluster_assignments(
    docs: DataFrame, obs: dict | None = None
) -> DataFrame:
    """The full collapse → LSH → CC → reattach rebuild over any
    (doc_id, text) corpus — q_minhash_clusters' body and the reference
    the incremental paths are pinned equal to: :func:`lsh_seed_state`
    over the whole corpus, then :func:`_reattach`.  ``obs``: optional
    dict receiving ``n_pairs_scored`` (the candidate pairs the exact
    Jaccard verify scores — the decade probe's intrinsic-work gauge)."""
    digests, groups, _idx, _spill, labels = lsh_seed_state(docs, obs)
    resolve_pair_counts(obs)
    return _reattach(digests, groups, labels)


def _reattach(
    digests: DataFrame, groups: DataFrame, labels: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) for every doc in ``digests``:
    each doc takes its fingerprint group's representative's cluster
    label.  cluster_id is the min doc_id over the cluster's members
    (each representative is already its group's min), canonical = the
    cluster min itself."""
    return (
        digests.join(groups.select("fp", "rep_id"), "fp")
        .join(labels, "rep_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id"))
            .cast("int")
            .alias("is_canonical"),
        )
    )


# --- fuzzy matching (record linkage) --------------------------------------

FUZZY_PREFIX = 24
FUZZY_BLOCK = 8
FUZZY_MAX_DIST = 6
FUZZY_BLOCK_CAP = 64
#: hard per-record output bound: each doc_a emits at most this many
#: partners (edit_dist asc, doc_b asc) — under shared boilerplate the
#: QUALIFYING pairs themselves grow ~quadratically inside a block even
#: with the block cap, so worst-case output is K·n, not Σ block² / 2
FUZZY_TOPK = 8


@register(
    "q_fuzzy_match",
    f"""
  WITH __keys AS (
    SELECT doc_id,
           substr(lower(trim(text)), 1, {FUZZY_PREFIX}) AS probe,
           substr(lower(trim(text)), 1, {FUZZY_BLOCK})
             || ':' || CAST(length(text) // 16 AS VARCHAR) AS block
    FROM documents
  ),
  __capped AS (
    SELECT doc_id, probe, block,
           count(*) OVER (PARTITION BY block) AS block_n
    FROM __keys
    QUALIFY block_n <= {FUZZY_BLOCK_CAP}
  )
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.probe, b.probe) AS edit_dist
  FROM __capped a JOIN __capped b
    ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE levenshtein(a.probe, b.probe) <= {FUZZY_MAX_DIST}
  QUALIFY row_number() OVER (PARTITION BY a.doc_id
                             ORDER BY levenshtein(a.probe, b.probe),
                                      b.doc_id) <= {FUZZY_TOPK}
""",
    doc="Blocked fuzzy matching (record linkage): candidate pairs share a "
    f"compound block key — {FUZZY_BLOCK}-char prefix PLUS a length bucket "
    "(equi-join, never an O(n²) cross product) — then Levenshtein ≤ "
    f"{FUZZY_MAX_DIST} on the {FUZZY_PREFIX}-char probe verifies. "
    "Candidates ∝ Σ block-size²: prefix alone collapses under shared "
    "boilerplate (the ×10 scale probe measured 146× runtime growth before "
    "the length bucket was added — SCALING.md), so blocks larger than "
    f"{FUZZY_BLOCK_CAP} are dropped outright (standard record-linkage "
    "practice: an oversized block means the key carries no signal there; "
    "a complementary pass — q_sorted_neighborhood — covers its recall). "
    "The cap makes worst-case candidate count linear in corpus size, and "
    f"top-{FUZZY_TOPK} emission per doc (edit_dist asc, doc_b asc) bounds "
    "the OUTPUT linearly too — qualifying pairs inside a boilerplate "
    "block otherwise grow quadratically even with capped blocks. "
    "Edit distance ≤ 6 implies length difference ≤ 6, so a 16-wide "
    "bucket only misses pairs spanning a boundary.",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim("text"))
    keys = docs.select(
        "doc_id",
        F.substring(norm, 1, FUZZY_PREFIX).alias("probe"),
        F.concat(
            F.substring(norm, 1, FUZZY_BLOCK),
            F.lit(":"),
            (F.length("text") / 16).cast("long").cast("string"),
        ).alias("block"),
    )
    # drop degenerate oversized blocks before the self-join; the count
    # window shares the join's hash partitioning on block, so the cap
    # costs no extra exchange
    keys = keys.withColumn(
        "block_n", F.count(F.lit(1)).over(Window.partitionBy("block"))
    ).filter(F.col("block_n") <= FUZZY_BLOCK_CAP).drop("block_n")
    a, b = keys.alias("a"), keys.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.probe"), F.col("b.probe")).alias("edit_dist"),
    )
    # top-K emission bounds worst-case output at K·n even when qualifying
    # pairs explode quadratically inside a boilerplate block
    w_k = Window.partitionBy("doc_a").orderBy("edit_dist", "doc_b")
    return (
        pairs.filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .withColumn("__rk", F.row_number().over(w_k))
        .filter(F.col("__rk") <= FUZZY_TOPK)
        .drop("__rk")
    )


SN_WINDOW = 8
SN_BUCKET = 4


@register(
    "q_sorted_neighborhood",
    f"""
  WITH __keys AS (
    SELECT doc_id, substr(lower(trim(text)), 1, {FUZZY_PREFIX}) AS probe
    FROM documents
  ),
  __ranked AS (
    SELECT doc_id, probe,
           row_number() OVER (ORDER BY probe, doc_id) AS rn
    FROM __keys
  )
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         b.rn - a.rn AS rank_gap,
         levenshtein(a.probe, b.probe) AS edit_dist
  FROM __ranked a JOIN __ranked b
    ON b.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW - 1}
  WHERE levenshtein(a.probe, b.probe) <= {FUZZY_MAX_DIST}
""",
    doc="Sorted-neighborhood record linkage: rank all docs by normalized "
    f"sort key, compare each doc only to the next {SN_WINDOW - 1} in rank "
    "order — candidates are O(n·w) REGARDLESS of key skew, the bounded-"
    "recall alternative to blocking (q_fuzzy_match's block sizes blow up "
    "quadratically under shared boilerplate; a sliding rank window cannot). "
    "The global rank is computed WITHOUT a single-partition sort: per-"
    f"bucket row_number (bucket = {SN_BUCKET}-char key prefix, so bucket "
    "order ≡ key order) + a two-level (bucket-of-buckets) prefix sum of "
    "bucket sizes — the same pattern as q_pack_sequences; neighbor pairs "
    "are an equi-join on rank after a 1→w-1 offset explode, never a "
    "range join.",
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim("text")), 1, FUZZY_PREFIX).alias("probe"),
    ).withColumn("bucket", F.substring("probe", 1, SN_BUCKET))
    # pass 1: rank within each bucket (distributed; bucket = key prefix
    # so (bucket, probe, doc_id) order ≡ global (probe, doc_id) order)
    w_in = Window.partitionBy("bucket").orderBy("probe", "doc_id")
    ranked = keys.withColumn("rn_in", F.row_number().over(w_in))
    # pass 2: bucket base offsets via a TWO-LEVEL prefix sum.  A flat
    # Window.orderBy("bucket") would push |distinct 4-char prefixes|
    # rows through one partition — bounded by charset⁴ but still up to
    # ~10⁶ on diverse corpora.  Rolling buckets up by their 2-char
    # prefix (sb IS a prefix of bucket, so (sb, bucket) order ≡ bucket
    # order) caps the unpartitioned window at ≤ charset² super-bucket
    # rows; per-bucket offsets within a super-bucket use a PARTITIONED
    # window.
    counts = keys.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("sb", F.substring("bucket", 1, 2))
    w_sb = Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, -1)
    sb_bases = (
        counts.groupBy("sb")
        .agg(F.sum("n").alias("sb_n"))
        .select(
            "sb",
            F.coalesce(F.sum("sb_n").over(w_sb), F.lit(0)).alias("sb_base"),
        )
    )
    w_in_sb = (
        Window.partitionBy("sb")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        counts.join(F.broadcast(sb_bases), "sb")
        .select(
            "bucket",
            (
                F.col("sb_base")
                + F.coalesce(F.sum("n").over(w_in_sb), F.lit(0))
            ).alias("base"),
        )
    )
    # no broadcast hint: bases is |buckets| rows — AQE broadcasts it
    # while small, and at scale the join reuses ranked's hash-by-bucket
    # exchange instead of shipping a data-sized table to every executor
    ranked = ranked.join(bases, "bucket").select(
        "doc_id", "probe", (F.col("base") + F.col("rn_in")).alias("rn")
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("probe").alias("probe_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.sequence(F.lit(1), F.lit(SN_WINDOW - 1))).alias(
            "rank_gap"
        ),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("probe").alias("probe_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        a.join(b, (F.col("rn_a") + F.col("rank_gap")) == F.col("rn_b"))
        .withColumn(
            "edit_dist", F.levenshtein(F.col("probe_a"), F.col("probe_b"))
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select(
            "doc_a",
            "doc_b",
            F.col("rank_gap").cast("bigint").alias("rank_gap"),
            "edit_dist",
        )
    )


@register(
    "q_prefix_dedup",
    """
  WITH __d AS (
    SELECT doc_id, text FROM documents WHERE length(text) >= 40
  )
  SELECT a.doc_id AS shorter_doc, b.doc_id AS longer_doc,
         length(a.text) AS len_short, length(b.text) AS len_long
  FROM __d a JOIN __d b
    ON left(a.text, 40) = left(b.text, 40)
   AND a.doc_id <> b.doc_id
   AND length(b.text) > length(a.text)
   AND left(b.text, length(a.text)) = a.text
""",
    doc="Truncation-duplicate detection: doc A is a proper prefix of doc "
    "B (the scrape-cutoff dup class shingle-Jaccard under-scores). "
    "Blocked on the first 40 chars — an equi-join key, so candidates "
    "co-locate in one shuffle and the full prefix test runs only "
    "inside blocks; never an O(n²) substring scan.",
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 40
    )
    a = docs.select(
        F.col("doc_id").alias("shorter_doc"),
        F.col("text").alias("a_text"),
        F.substring("text", 1, 40).alias("blk"),
    )
    b = docs.select(
        F.col("doc_id").alias("longer_doc"),
        F.col("text").alias("b_text"),
        F.substring("text", 1, 40).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("shorter_doc") != F.col("longer_doc"))
            & (F.length("b_text") > F.length("a_text"))
            & (
                F.expr("substring(b_text, 1, length(a_text))")
                == F.col("a_text")
            )
        )
        .select(
            "shorter_doc",
            "longer_doc",
            F.length("a_text").cast("bigint").alias("len_short"),
            F.length("b_text").cast("bigint").alias("len_long"),
        )
    )


# --- chunk-level boilerplate dedup ---------------------------------------


@register(
    "q_chunk_dedup",
    """
  WITH t AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
    FROM documents
    WHERE trim(text) <> ''
  ),
  ch AS (
    SELECT t.doc_id, u.i AS chunk_idx,
           md5(array_to_string(
             list_slice(t.toks, u.i * 10 + 1, u.i * 10 + 10), ' '))
             AS fingerprint
    FROM t, UNNEST(range(0,
        CAST(ceil(len(t.toks) / 10.0) AS BIGINT))) AS u(i)
  ),
  ranked AS (
    SELECT doc_id, chunk_idx,
           row_number() OVER (
             PARTITION BY fingerprint
             ORDER BY doc_id, chunk_idx) AS rn
    FROM ch
  )
  SELECT doc_id,
         count(*) AS n_chunks,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         round(sum(CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6)
           AS retention
  FROM ranked
  GROUP BY doc_id
""",
    doc="Chunk-level boilerplate dedup: documents are cut into fixed "
    "10-token chunks inside the scan stage (array slice + explode — no "
    "Python), each chunk fingerprinted, and duplicates collapsed "
    "corpus-wide to a deterministic (min doc_id, chunk_idx) survivor. "
    "Per-doc retention is the fraction of its chunks that survive — "
    "the standard intra-corpus template-removal signal. Shuffles: one "
    "on fingerprint, one on doc_id; both combinable.",
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    toks = F.split(F.lower(F.trim("text")), r"[ \t\n\x0b\f\r]+")
    chunked = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(10.0)).cast("int") - 1,
                ),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10))
                ),
            )
        ).alias("chunk_idx", "fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id", "chunk_idx")
    ranked = chunked.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.lit(0))
    keptf = F.when(F.col("rn") == 1, F.lit(1.0)).otherwise(F.lit(0.0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(kept).alias("n_kept"),
        F.round(F.sum(keptf) / F.count(F.lit(1)), 6).alias("retention"),
    )


# --- incremental ingest dedup --------------------------------------------


@register(
    "q_incremental_dedup",
    """
  WITH fp AS (
    SELECT doc_id, source,
           md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f
    FROM documents
  ),
  batch AS (
    SELECT doc_id + 1000000 AS doc_id, source, f
    FROM fp WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, source,
           md5(regexp_replace(lower(trim(text || ' updated')),
                              '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f
    FROM documents WHERE doc_id % 10 = 5
  ),
  base AS (SELECT DISTINCT f FROM fp)
  SELECT b.source,
         count(*) AS n_batch,
         count(base.f) AS n_dup_vs_base,
         CAST(sum(CASE WHEN base.f IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM batch b LEFT JOIN base ON b.f = base.f
  GROUP BY b.source
""",
    doc="Incremental ingest dedup: a simulated re-ingest batch (half "
    "already-seen copies, half genuinely edited docs) is checked "
    "against the existing corpus by content fingerprint — a left join "
    "on md5 that at scale is a shuffle on the hash key only (16 bytes "
    "per row crosses the wire, never the text). The per-source "
    "novel/duplicate split is the signal an ingestion tier uses to "
    "skip already-stored content.",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    fp_of = lambda c: F.md5(F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\x0b\f\r]+", " "))
    fp = docs.select("doc_id", "source", fp_of(F.col("text")).alias("f"))
    batch = fp.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "source", "f"
    ).unionAll(
        docs.filter(F.col("doc_id") % 10 == 5).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            "source",
            fp_of(F.concat(F.col("text"), F.lit(" updated"))).alias("f"),
        )
    )
    base = fp.select("f").distinct().withColumnRenamed("f", "base_f")
    return (
        batch.join(base, batch.f == base.base_f, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count("base_f").alias("n_dup_vs_base"),
            F.sum(
                F.when(F.col("base_f").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_novel"),
        )
    )


# --- incremental NEAR-dup: delta docs vs the corpus LSH index -------------

#: shared by q_incremental_minhash and its streaming twin
#: (streaming_queries.q_stream_incremental_minhash): identical
#: semantics, so identical oracle
INCREMENTAL_MINHASH_SQL = f"""
  WITH {SHINGLES_SQL},
  {MINHASH_CAPPED_CTE_SQL},
  __cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM __mhc a JOIN __mhc b
      ON a.seed = b.seed AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
    WHERE a.doc_id % 10 = 7 OR b.doc_id % 10 = 7
  ),
  {JACCARD_VERIFY_SQL}
  SELECT c.doc_a, c.doc_b,
         round(coalesce(j.jaccard, 0.0), 6) AS jaccard
  FROM __cand c
  LEFT JOIN __jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
"""


def _rows() -> list:
    """The row count a cut observes: scored pairs, batch and eviction
    sizes."""
    return [F.count(F.lit(1)).alias("n")]


def observe_pairs(cand: DataFrame, obs: dict | None) -> DataFrame:
    """Attach a CollectMetrics pair counter that RIDES the candidate
    stream's own execution — zero extra actions, zero checkpoint
    footprint (a checkpoint+count gauge of the ~760 M-row ×100 rebuild
    candidate stream died of lost checkpoint blocks).  The count lands
    in ``obs['n_pairs_scored']`` when :func:`resolve_pair_counts` runs
    after the plan has executed."""
    if obs is None:
        return cand
    from pyspark.sql import Observation

    o = Observation()
    obs.setdefault("_pair_obs", []).append((o, cand))
    return cand.observe(o, *_rows())


def resolve_pair_counts(obs: dict | None) -> None:
    """Fold every pending :func:`observe_pairs` metric into
    ``obs['n_pairs_scored']``.  Call after the observed plans have
    executed; every kernel here checkpoints its candidate streams
    before returning, so resolution at kernel exit is immediate.  A
    metric that never arrives is counted over the candidate stream
    instead (:func:`~..lineage.metrics`)."""
    if obs is None:
        return
    obs["n_pairs_scored"] = obs.get("n_pairs_scored", 0) + sum(
        int(metrics(o, cand, _rows())["n"])
        for o, cand in obs.pop("_pair_obs", ())
    )


@register(
    "q_incremental_minhash",
    INCREMENTAL_MINHASH_SQL,
    doc="Incremental MinHash-LSH near-dup: a simulated ingest delta "
    "(doc_id % 10 = 7, ~10% of the corpus) is probed against the FULL "
    "capped LSH signature index, emitting only near-dup pairs that "
    "touch the delta — the daily-crawl discipline where candidate "
    "volume scales with the increment, never with the corpus. The "
    "Spark plan is probe-shaped (delta signatures joined against the "
    "index), not self-join-then-filter: at 100 TB the signature index "
    "is a stored table bucketed by (seed, minhash), so only the delta "
    "side shuffles per ingest, and per-bucket work is bounded by "
    "|delta ∩ bucket| × cap ≤ C(cap, 2) — re-pairing the corpus "
    "against itself never happens; hot buckets additionally spread "
    "that work over partner chunks (index member keeps its chunk, "
    "probe row fans out) so no single reduce task carries a "
    "mega-bucket. Verify (exact Jaccard on xxhash64 shingle arrays) "
    "runs on delta-touching candidates only.",
)
def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    docs = pin_parallelism(docs, "doc_id")
    arrs, nbytes = checkpoint_arrs_with_bytes(shingle_arrays(docs))
    delta = arrs.select("doc_id").filter(F.col("doc_id") % 10 == 7)
    cand = _chunked_probe_pairs(_ranked_index(arrs), delta)
    return verify_candidates(arrs, cand, arr_bytes=nbytes)


def lsh_index_upsert(base_idx: DataFrame, delta_sig: DataFrame) -> DataFrame:
    """Merge delta signatures into a stored capped index and re-enforce
    the occupancy cap — one (seed, minhash)-keyed window over
    base-survivors + delta.  Equivalent to a full rebuild because the
    cap's survivor rule (lowest doc_ids) is monotone; see
    q_lsh_index_upsert."""
    return _split_index(_rank_buckets(base_idx.unionByName(delta_sig)))[0]


@register(
    "q_lsh_index_upsert",
    f"""
  WITH {SHINGLES_SQL},
  {MINHASH_CAPPED_CTE_SQL}
  SELECT doc_id, seed, minhash FROM __mhc
""",
    doc="LSH index maintenance: the Spark side merges the delta's "
    "signatures INTO the stored pre-ingest index (base-only capped "
    "index ∪ delta signatures, then re-cap), while the ORACLE rebuilds "
    "the capped index from the full corpus — so the oracle gate itself "
    "proves incremental maintenance ≡ full rebuild. The equivalence is "
    "exact because the occupancy cap keeps each bucket's LOWEST doc_ids "
    "(a monotone survivor rule): any full-rebuild survivor drawn from "
    "the base is necessarily among the base's own lowest-cap members, "
    "so capping the base first loses nothing the re-cap would keep. At "
    "100 TB this is the upsert an ingest tier runs per increment — one "
    "(seed, minhash)-keyed window over base-survivors + delta, never a "
    "signature pass over the historical corpus.",
)
def q_lsh_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    docs = pin_parallelism(docs, "doc_id")
    arrs = cut(shingle_arrays(docs), "q_lsh_index_upsert.arrs")
    # the stored pre-ingest index: built from the base corpus only (in
    # production this is read back from storage, not recomputed)
    base_idx = minhash_index(arrs.filter(F.col("doc_id") % 10 != 7))
    delta_sig = minhash_signatures(arrs.filter(F.col("doc_id") % 10 == 7))
    return lsh_index_upsert(base_idx, delta_sig)


@register(
    "q_incremental_minhash_clusters",
    MINHASH_CLUSTERS_SQL,
    doc="Incremental collapse+LSH cluster maintenance — the scale-safe "
    "successor to the retired q_incremental_clusters' n-gram pair source (whose "
    "posting lists grow with the corpus). Per ingest: delta "
    "fingerprints probe the stored rep map (rep relabels are pure "
    "label substitutions — signatures are text-keyed, so a group "
    "whose min doc_id moves costs zero signature work); only NOVEL "
    "texts are signed and probe the maintained capped index "
    "(q_lsh_index_upsert's monotone merge); verified Jaccard≥0.5 "
    "edges touching novel reps feed contract-and-expand CC over the "
    "stored base clustering; members reattach through the fingerprint "
    "map. ORACLE = the full rebuild (q_minhash_clusters' SQL). "
    "Exactness: the maintained index is provably ≡ the "
    "rebuild's — the cap's SPILL rows are stored state, and a "
    "relabeled spill row re-enters the re-cap (a base-build-evicted "
    "rep relabeled to a smaller delta id) and probes alongside "
    "novels; the only "
    "remaining divergence channel is a STORED row losing its bucket "
    "seat, which takes the SCOPED recluster — only the fast-path "
    "components containing an evicted doc are re-derived from the "
    "capped index's own candidate pairs (rebuild edges ⊆ fast-path "
    "scored edges, so no rebuild component crosses that boundary), "
    "every other cluster keeps its label unrecomputed. The stored "
    "state is lsh_seed_state (the same rebuild q_minhash_clusters "
    "runs) and the per-ingest step is lsh_maintenance_step — the SAME "
    "kernel the streaming twin commits per micro-batch.",
)
def q_incremental_minhash_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    return incremental_minhash_clusters(docs)


def incremental_minhash_clusters(docs: DataFrame, obs: dict | None = None) -> DataFrame:
    """See q_incremental_minhash_clusters.  Factored so tests can pin
    the rep-churn / bridge / cap-binding corners on synthetic corpora.
    The delta is doc_id % 10 == 7 (the repo's simulated-ingest split):
    :func:`lsh_seed_state` builds the stored state from the base, ONE
    :func:`lsh_maintenance_step` (the kernel the streaming twin runs per
    micro-batch) ingests the delta, and :func:`_reattach` assigns every
    doc.

    ``obs``: optional dict; when a cap-binding ingest takes the SCOPED
    recluster path, receives ``n_evicted`` / ``n_scope_reps`` /
    ``n_total_reps`` row counts so tests can prove untouched clusters'
    labels were never recomputed.  It also always receives
    ``n_pairs_scored`` — the candidate pairs the exact Jaccard verify
    scores (seed + delta probe + any scoped recluster), the decade
    probe's intrinsic-work gauge; the counts ride the run as
    CollectMetrics observations (:func:`observe_pairs`)."""
    is_delta = F.col("doc_id") % 10 == 7
    state = lsh_seed_state(docs.filter(~is_delta), obs)
    batch = docs.filter(is_delta).select(
        "doc_id", fingerprint_col().alias("fp"), "text"
    )
    digests2, groups2, _idx2, _spill2, labels2, _ = lsh_maintenance_step(
        *state, batch, obs
    )
    return _reattach(digests2, groups2, labels2)


def lsh_seed_state(base_docs: DataFrame, obs: dict | None = None) -> tuple:
    """The one LSH rebuild: the five state tables of a (doc_id, text)
    corpus, ``(digests, groups, idx, spill, labels)``, in the shapes
    :func:`lsh_maintenance_step` documents.  Chain: :func:`exact_groups`
    → representative shingle arrays → the checkpointed ranked index
    (:func:`_ranked_index`, split into idx and spill) →
    :func:`_chunked_self_pairs` over that same table → verify → Jaccard
    ≥ :data:`MINHASH_CLUSTER_JACCARD` edges →
    :func:`connected_components` over the representatives.  The md5
    signature pass runs once: the candidates come from the index this
    function checkpoints and returns.

    Invariant the maintenance step's induction starts from: ``idx ∪
    spill`` is exactly the signatures of the group representatives and
    ``idx`` holds each bucket's :data:`MINHASH_BUCKET_CAP` lowest
    doc_ids.  ``obs`` threads the scored-pair gauge through the
    candidate stream; the caller resolves it
    (:func:`resolve_pair_counts`)."""
    digests, groups = exact_groups(base_docs)
    digests = cut(digests, "lsh_seed_state.digests")
    groups = cut(groups, "lsh_seed_state.groups")
    arrs, nbytes = _rep_arrays(groups)
    ranked = _ranked_index(arrs)
    idx, spill = _split_index(ranked)
    cand = observe_pairs(_chunked_self_pairs(ranked), obs)
    edges = (
        verify_candidates(arrs, cand, arr_bytes=nbytes)
        .filter(F.col("jaccard") >= MINHASH_CLUSTER_JACCARD)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    labels = connected_components(
        groups.select(F.col("rep_id").alias("doc_id")), edges, "doc_id"
    ).select(F.col("doc_id").alias("rep_id"), "cluster_id")
    return digests, groups, idx, spill, labels


def _verified_edges(
    groups: DataFrame, cand: DataFrame, obs: dict | None
) -> DataFrame:
    """Verified Jaccard ≥ :data:`MINHASH_CLUSTER_JACCARD` edges (src <
    dst) among candidate pairs of representatives, shingling only the
    candidates' endpoints from the group texts — the maintenance step's
    one verify path (its state stores texts, not arrays).  The
    checkpoint after the pair gauge lets the endpoint roster and the
    verify read one materialization."""
    cand = cut(observe_pairs(cand, obs), "_verified_edges.cand")
    need = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrs, nbytes = checkpoint_arrs_with_bytes(
        shingle_arrays(
            groups.select(F.col("rep_id").alias("doc_id"), "text").join(
                need, "doc_id", "left_semi"
            )
        )
    )
    return (
        verify_candidates(arrs, cand, arr_bytes=nbytes)
        .filter(F.col("jaccard") >= MINHASH_CLUSTER_JACCARD)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )


def lsh_maintenance_step(
    digests: DataFrame,
    groups: DataFrame,
    idx: DataFrame,
    spill: DataFrame,
    labels: DataFrame,
    batch: DataFrame,
    obs: dict | None = None,
) -> tuple:
    """One ingest step of LSH cluster maintenance — the shared patch
    kernel behind q_incremental_minhash_clusters and its streaming twin.

    Stored state (parquet tables in production; :func:`lsh_seed_state`
    builds the first one):
      digests (doc_id, fp)            — every doc applied so far
      groups  (fp, rep_id, text)      — one row per exact-dup group
      idx     (doc_id, seed, minhash) — capped LSH index over reps
      spill   (doc_id, seed, minhash) — rows the cap evicted (side table)
      labels  (rep_id, cluster_id)    — the current clustering
    ``batch``: (doc_id, fp, text) — the ingest delta.

    Step: docs already in ``digests`` drop out (replay idempotence);
    fingerprint groups whose minimum moved to a batch id are RELABELED
    (pure label substitution — signatures are text-keyed, zero
    signature work); only NOVEL texts are signed; the re-cap ranks
    relabeled stored rows ∪ RE-ENTRANT rows (relabeled spill rows) ∪
    novel signatures.

    Invariant, by induction from the seed: ``idx ∪ spill`` is exactly
    the signature set of the current representatives and ``idx`` is the
    rebuild's capped index.  Relabels only decrease doc_ids, so a
    non-relabeled spilled row can never rise back into the cap, while a
    relabeled one can and re-enters.  Novel and re-entrant docs probe
    the index (:func:`_chunked_probe_pairs`); verified edges
    contract-and-expand through the stored labels.  Because the index
    matches the rebuild's, an already-scored edge can differ only when
    a STORED row loses its bucket seat — the SCOPED recluster re-derives
    just the components containing an evicted doc from the capped
    index's own self-pairs (rebuild edges ⊆ fast-path scored edges, so
    no rebuild component crosses that boundary); every other cluster
    keeps its label unrecomputed.

    ``obs``: optional dict — the scored-pair gauge (pending
    :func:`observe_pairs` gauges are resolved at exit) plus the
    scoped-path n_evicted / n_scope_reps / n_total_reps counts.  Every
    count rides the cut that materializes its rows, so none costs a
    job.

    Returns (digests2, groups2, idx2, spill2, labels2, applied):
    ``applied`` (doc_id, fp) is the part of ``batch`` the step took in,
    the segment an append-table digest roster stores."""
    bnew, n_new = cut(
        batch.join(digests.select("doc_id"), "doc_id", "left_anti"),
        "lsh_maintenance_step.bnew",
        observe=_rows(),
    )
    applied = bnew.select("doc_id", "fp")
    if not n_new["n"]:
        resolve_pair_counts(obs)
        return digests, groups, idx, spill, labels, applied
    digests2 = digests.unionByName(applied)

    # group deltas: relabels (group min moved to a batch id) + novels
    gmin = bnew.groupBy("fp").agg(F.min("doc_id").alias("bmin"))
    j = gmin.join(
        groups.select("fp", F.col("rep_id").alias("old")), "fp", "left"
    )
    relabel = cut(
        j.filter(F.col("old").isNotNull() & (F.col("bmin") < F.col("old")))
        .select("old", F.col("bmin").alias("new")),
        "lsh_maintenance_step.relabel",
    )
    novel_texts = cut(
        bnew.join(
            j.filter(F.col("old").isNull()).select(
                "fp", F.col("bmin").alias("doc_id")
            ),
            ["fp", "doc_id"],
        )
        .select("fp", "doc_id", "text"),
        "lsh_maintenance_step.novel_texts",
    )
    groups2 = cut(
        groups.join(
            F.broadcast(relabel), groups.rep_id == relabel.old, "left"
        )
        .select("fp", F.coalesce("new", "rep_id").alias("rep_id"), "text")
        .unionByName(
            novel_texts.select("fp", F.col("doc_id").alias("rep_id"), "text")
        ),
        "lsh_maintenance_step.groups2",
    )

    # maintained index: relabel the stored rows AND the spill (both are
    # broadcast map substitutions — zero signature work), sign ONLY the
    # novel texts, then re-cap.  Only RELABELED spill rows join the
    # ranking: ids only decrease, so a non-relabeled spilled row keeps
    # every row that outranked it and stays out (carried forward).
    idx_rel = idx.join(
        F.broadcast(relabel), idx.doc_id == relabel.old, "left"
    ).select(F.coalesce("new", "doc_id").alias("doc_id"), "seed", "minhash")
    sp = spill.join(
        F.broadcast(relabel), spill.doc_id == relabel.old, "left"
    )
    reent = sp.filter(F.col("new").isNotNull()).select(
        F.col("new").alias("doc_id"), "seed", "minhash"
    )
    spill_kept = sp.filter(F.col("new").isNull()).select(
        "doc_id", "seed", "minhash"
    )
    novel_arrs = shingle_arrays(novel_texts.select("doc_id", "text"))
    novel_sig = minhash_signatures(novel_arrs)
    ranked = cut(
        _rank_buckets(
            idx_rel.withColumn("__src", F.lit("stored"))
            .unionByName(reent.withColumn("__src", F.lit("reent")))
            .unionByName(novel_sig.withColumn("__src", F.lit("novel")))
        ),
        "lsh_maintenance_step.ranked",
    )
    idx2, overflow = _split_index(ranked)
    # the exactness guard: a STORED row pushed beyond the cap is the
    # only way an already-scored edge can lose its bucket support (a
    # re-entrant or novel row beyond the cap is equally absent from
    # the rebuild's index — nothing diverges)
    evicted, n_evicted = cut(
        ranked.filter(
            (F.col("__bn") > MINHASH_BUCKET_CAP)
            & (F.col("__src") == "stored")
        )
        .select("doc_id")
        .distinct(),
        "lsh_maintenance_step.evicted",
        observe=_rows(),
    )
    # spill2 = non-relabeled spill rows + every overflow row of this
    # re-cap (disjoint by construction); idx2 ∪ spill2 stays the
    # COMPLETE uncapped signature set over groups2's reps — the
    # induction invariant that makes idx2 ≡ the rebuild's index
    spill2 = spill_kept.unionByName(overflow)

    # delta-touching candidates: novel AND re-entrant docs probe the
    # maintained index.  Re-entrant pairs are exactly the edges the
    # rebuild gains when a spilled row re-enters.
    probe_ids = (
        novel_texts.select("doc_id")
        .unionByName(reent.select("doc_id"))
        .distinct()
    )
    new_edges = _verified_edges(
        groups2, _chunked_probe_pairs(ranked, probe_ids), obs
    )

    # contract-and-expand in MERGED rep id space: relabel stored label
    # rows, re-min each cluster's label (a relabeled member can
    # undercut the old min), contract new edges through the cluster
    # labels, CC on the touched part only, expand
    bl = labels.join(
        F.broadcast(relabel), labels.rep_id == relabel.old, "left"
    ).select(F.coalesce("new", "rep_id").alias("rid"), "cluster_id")
    nlab = bl.groupBy("cluster_id").agg(F.min("rid").alias("label"))
    old_lab = bl.join(nlab, "cluster_id").select("rid", "label")
    lab_a = old_lab.select(
        F.col("rid").alias("src"), F.col("label").alias("la")
    )
    lab_b = old_lab.select(
        F.col("rid").alias("dst"), F.col("label").alias("lb")
    )
    contracted = (
        new_edges.join(lab_a, "src", "left")
        .join(lab_b, "dst", "left")
        .select(
            F.coalesce("la", F.col("src")).alias("u"),
            F.coalesce("lb", F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst")
        )
        .distinct()
    )
    # the nodes are the contracted edges' endpoints; CC's edges cut is
    # the one materialization of these edges
    cc2 = connected_components(None, contracted, "id").select(
        "id", F.col("cluster_id").alias("merged")
    )
    labels2, n_reps = cut(
        old_lab.join(cc2.withColumnRenamed("id", "label"), "label", "left")
        .select(
            F.col("rid").alias("rep_id"),
            F.coalesce("merged", "label").alias("cluster_id"),
        )
        .unionByName(
            novel_texts.select("doc_id")
            .join(cc2.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select(
                F.col("doc_id").alias("rep_id"),
                F.coalesce("merged", "doc_id").alias("cluster_id"),
            )
        ),
        "lsh_maintenance_step.labels2",
        observe=_rows(),
    )

    # SCOPED exactness fallback: with idx2
    # provably equal to the rebuild's index, evictions can only DROP
    # stored edges vs the rebuild, so the rebuild's edge set is a
    # SUBSET of the fast path's scored set — every rebuild component
    # lies wholly inside one fast-path component, and a fast-path
    # component with no evicted member has an identical edge set.
    # Recluster ONLY the components containing an evicted doc,
    # regenerating their candidate pairs from the capped index itself;
    # every other cluster keeps its fast-path label unrecomputed.
    if n_evicted["n"]:
        scope_cids = cut(
            labels2.join(
                evicted.withColumnRenamed("doc_id", "rep_id"),
                "rep_id",
                "left_semi",
            )
            .select("cluster_id")
            .distinct(),
            "lsh_maintenance_step.scope_cids",
        )
        scope_reps, n_scope = cut(
            labels2.join(scope_cids, "cluster_id", "left_semi").select(
                F.col("rep_id").alias("doc_id")
            ),
            "lsh_maintenance_step.scope_reps",
            observe=_rows(),
        )
        scope_edges = _verified_edges(
            groups2,
            _chunked_self_pairs(
                ranked.join(scope_reps, "doc_id", "left_semi")
            ),
            obs,
        )
        scope_cc = connected_components(
            scope_reps, scope_edges, "doc_id"
        ).select(F.col("doc_id").alias("rep_id"), "cluster_id")
        if obs is not None:
            obs["n_evicted"] = n_evicted["n"]
            obs["n_scope_reps"] = n_scope["n"]
            obs["n_total_reps"] = n_reps["n"]
        labels2 = cut(
            labels2.join(scope_cids, "cluster_id", "left_anti")
            .select("rep_id", "cluster_id")
            .unionByName(scope_cc),
            "lsh_maintenance_step.labels2",
        )

    resolve_pair_counts(obs)
    return digests2, groups2, idx2, spill2, labels2, applied


# --- canonical selection per near-dup cluster -----------------------------


@register(
    "q_canonical_selection",
    f"""
  WITH RECURSIVE {SHINGLES_SQL},
  {JACCARD_VERIFY_SQL},
  __edges1 AS (
    SELECT doc_a AS src, doc_b AS dst FROM __jac
    WHERE jaccard >= {CLUSTER_JACCARD}
  ),
  __edges AS (
    SELECT src, dst FROM __edges1
    UNION ALL SELECT dst, src FROM __edges1
  ),
  __reach (doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT q.doc_id, e.dst FROM __reach q JOIN __edges e ON e.src = q.r
  ),
  __cl AS (
    SELECT doc_id, min(r) AS cluster_id FROM __reach GROUP BY doc_id
  ),
  __tokc AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len({TOKENS_SQL}) END AS n_tokens
    FROM documents
  ),
  __ranked AS (
    SELECT c.cluster_id, c.doc_id, t.n_tokens,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY t.n_tokens DESC, c.doc_id) AS rn
    FROM __cl c JOIN __tokc t ON t.doc_id = c.doc_id
  )
  SELECT cluster_id,
         count(*) AS n_docs,
         min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
         min(CASE WHEN rn = 1 THEN n_tokens END) AS canonical_tokens,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM __ranked
  GROUP BY cluster_id
""",
    doc="Canonical-document selection: near-dup clusters (connected "
    "components over the Jaccard graph, same helper as "
    "q_dedup_clusters) each keep their best representative — here the "
    "token-richest doc, doc_id-tiebroken — the step that turns a "
    "dedup clustering into an actual corpus reduction. One extra "
    "shuffle on cluster_id after the CC loop; rank via row_number "
    "inside each cluster, never a global sort.",
)
def q_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_with_text(spark, sf_dir)
    jac = jaccard_pairs(shingles(docs))
    edges1 = jac.filter(F.col("jaccard") >= CLUSTER_JACCARD).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    clusters = connected_components(docs.select("doc_id"), edges1, "doc_id")
    toks = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(tokens_col()))
        .alias("n_tokens"),
    )
    ranked = (
        clusters.select("doc_id", "cluster_id")
        .join(toks, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("n_tokens"), "doc_id"
                )
            ),
        )
    )
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
            "canonical_doc"
        ),
        F.min(F.when(F.col("rn") == 1, F.col("n_tokens"))).alias(
            "canonical_tokens"
        ),
        F.sum("n_tokens").alias("total_tokens"),
    )


# --- prefix-filtered exact set-similarity join (AllPairs/PPJoin) ----------

# threshold as an exact rational: double(t)*sz can round ABOVE the true
# product for thresholds whose binary expansion exceeds t (e.g. 0.55),
# making ceil() overshoot and the prefix one shingle too short — silently
# breaking the lossless guarantee.  ceil(t*sz) over positive ints is
# exactly (NUM*sz + DEN - 1) div DEN.
_PF_T_NUM, _PF_T_DEN = 4, 5
_PF_THRESHOLD = _PF_T_NUM / _PF_T_DEN  # 0.8
#: hard per-record output bound: qualifying pairs grow quadratically
#: inside similarity cliques (the ×10 probe measured 256 → 248,600 pairs
#: on replicated data), so each doc_a emits only its top-K partners
#: (jaccard desc, doc_b asc) — worst-case output K·n
_PF_TOPK = 10


@register(
    "q_prefix_filter_join",
    f"""
  WITH {SHINGLES_SQL},
  {JACCARD_VERIFY_SQL}
  SELECT doc_a, doc_b, shared, round(jaccard, 6) AS jaccard
  FROM __jac WHERE jaccard >= {_PF_THRESHOLD}
  QUALIFY row_number() OVER (PARTITION BY doc_a
                             ORDER BY jaccard DESC, doc_b) <= {_PF_TOPK}
""",
    doc=f"EXACT set-similarity self-join (shingle-set Jaccard >= "
    f"{_PF_THRESHOLD}) via PPJoin ASYMMETRIC prefix filtering: "
    "shingles are globally ranked rarest-first; the probing side uses "
    "the AllPairs prefix |x|-ceil(t|x|)+1 while the indexed (smaller-"
    "record) side needs only |y|-ceil(2t/(1+t)|y|)+1 entries under the "
    "(size, doc_id) pair order — a qualifying pair MUST collide inside "
    "probe(x) ∩ index(y), so the pruning stays lossless while hot-"
    "shingle fan-out drops ~2x.  "
    "Candidates are verified with a full-overlap count, and each doc "
    f"emits only its top-{_PF_TOPK} partners (jaccard desc, doc_b asc) "
    "so worst-case output is K*n even inside similarity cliques. The "
    "oracle is the brute-force all-shared-shingles join with the same "
    "top-K rule - hash-matching it proves the pruning loses nothing. "
    "At 100 TB the prefix index is "
    "the difference between joining every posting list and joining "
    "only the rare tail (AllPairs / PPJoin); shingles (not unigrams) "
    "keep the token universe large enough for the prefix to select.",
)
def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pf_apply_topk(_prefix_filter_scored(spark, sf_dir))


def _pf_apply_topk(scored: DataFrame) -> DataFrame:
    """Per-doc top-K emission cap + output projection over the scored
    qualifying pairs (shared by the query and its observed probe form)."""
    w_k = Window.partitionBy("doc_a").orderBy(F.desc("jacc"), "doc_b")
    return (
        scored.withColumn("__rk", F.row_number().over(w_k))
        .filter(F.col("__rk") <= _PF_TOPK)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(F.col("jacc"), 6).alias("jaccard"),
        )
    )


def q_prefix_filter_join_observed(spark: SparkSession, sf_dir: str, obs):
    """q_prefix_filter_join with a CollectMetrics node on the PRE-CAP
    scored pairs: one run yields both the capped output and the
    intrinsic-work count (``obs.get["work_rows"]``), so the scale
    probe's work column no longer re-executes the whole scored plan —
    including its three lineage cuts — a second time (ADVICE r8)."""
    scored = _prefix_filter_scored(spark, sf_dir).observe(
        obs, F.count(F.lit(1)).alias("work_rows")
    )
    return _pf_apply_topk(scored)


def _prefix_filter_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All qualifying pairs (doc_a, doc_b, shared, jacc) with J >= t,
    BEFORE the per-doc top-K emission cap."""
    t = _PF_THRESHOLD
    docs = read_parquet_table(spark, sf_dir, "documents")
    sh = cut(shingles(docs), "_prefix_filter_scored.sh")
    # global df + a DISTINCT long surrogate id (sid) per shingle, pinned
    # by ONE checkpoint: the candidate join and the verify arrays carry
    # 8-byte longs instead of ~30-char shingle strings.  The ×30 probe
    # showed verification dominating (244 s of a 330 s stage-by-stage
    # walk: 11M string-array intersections); long-array array_intersect
    # plus a long equi-join key cut both the compare cost and the
    # shuffle bytes.  sid values carry no meaning — only distinctness —
    # so monotonically_increasing_id is safe once materialized; the
    # rarest-first PREFIX ORDER stays on the exact (df, shingle) string
    # key, unchanged.
    vocab = cut(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("sid", F.monotonically_increasing_id()),
        "_prefix_filter_scored.vocab",
    )
    shv = sh.join(vocab, "shingle")
    # verify arrays as long sids — replaces the separate shingle_arrays
    # corpus pass (one fewer tokenize+explode of the whole corpus)
    arrs = cut(
        shv.groupBy("doc_id")
        .agg(F.collect_list("sid").alias("shs")),
        "_prefix_filter_scored.arrs",
    )
    sz = arrs.select("doc_id", F.size("shs").alias("sz"))
    # rarest-first ordering WITHOUT a global rank: the prefix only needs
    # each doc's shingles ordered by (df, shingle) — ranking positions
    # per doc over that key directly is the identical order, and it
    # avoids the single-partition row_number sort of the whole shingle
    # vocabulary the global-rank form required (the probe's ×10
    # super-linear stage: one core sorting 10× the vocabulary)
    ranked = (
        shv.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        # NO broadcast hint: sz is one row per DOCUMENT — O(corpus) —
        # and a broadcast would hit the 8 GB relation limit (or driver
        # OOM) long before 100 TB; the stream is already shuffled on
        # doc_id by the row_number window, so the equi-join is cheap
        .join(sz, "doc_id")
    )
    # PPJoin ASYMMETRIC prefixes (Xiao et al. 2008; VERDICT r7 task #3):
    # the probing prefix keeps the AllPairs length |x|-ceil(t|x|)+1, but
    # the INDEXED side only needs |y|-ceil(2t/(1+t)·|y|)+1 entries when
    # pairs are generated under the size order |y| <= |x| — for a
    # qualifying pair the required overlap α >= 2t/(1+t)·|y| exceeds
    # what y could share with ALL its index-prefix entries skipped, so
    # the first common shingle (rarest-first global order) lands inside
    # probe(x) ∩ index(y).  At t=0.8 the index prefix is ~x0.55 of the
    # probe prefix, cutting hot-shingle candidate fan-out d_probe² →
    # d_probe·d_index inside replica cliques — the ×30 probe's dominant
    # stage.  LOSSLESS, so the brute-force oracle is unchanged.
    probe = ranked.filter(
        F.col("pos")
        <= F.col("sz")
        - F.expr(f"(({_PF_T_NUM} * sz + {_PF_T_DEN - 1}) div {_PF_T_DEN})")
        + 1
    ).select("doc_id", "sid", "pos", "sz")
    # 2t/(1+t) = 2·NUM/(NUM+DEN) exactly; ceil over positive ints again
    idx = probe.filter(
        F.col("pos")
        <= F.col("sz")
        - F.expr(
            f"((2 * {_PF_T_NUM} * sz + {_PF_T_NUM + _PF_T_DEN - 1})"
            f" div {_PF_T_NUM + _PF_T_DEN})"
        )
        + 1
    )
    # candidate pruning — all three filters are LOSSLESS for J >= t:
    # - size order: index side is the smaller record ((sz, doc_id)
    #   lexicographic so equal-size pairs are generated exactly once)
    # - length filter: J >= t  =>  t·|x| <= |y| for |y| <= |x|
    # - positional filter: all common shingles of a qualifying pair sit
    #   at or after its FIRST common prefix entry, so overlap <=
    #   1 + min(|x|-pa, |y|-pb); require that to reach the overlap
    #   threshold α = ceil(t/(1+t)·(|x|+|y|)).  A pair survives if ANY
    #   shared prefix entry passes, which contains the first-entry case.
    alpha = F.expr(
        f"(({_PF_T_NUM} * (a.sz + b.sz) + {_PF_T_NUM + _PF_T_DEN - 1})"
        f" div {_PF_T_NUM + _PF_T_DEN})"
    )
    cand = (
        probe.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.sid") == F.col("b.sid"))
            & (
                (F.col("b.sz") < F.col("a.sz"))
                | (
                    (F.col("b.sz") == F.col("a.sz"))
                    & (F.col("b.doc_id") < F.col("a.doc_id"))
                )
            )
            & (
                F.lit(_PF_T_NUM) * F.col("a.sz")
                <= F.lit(_PF_T_DEN) * F.col("b.sz")
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
                >= alpha
            ),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # verification by per-doc sid-ARRAY intersection: two doc-keyed
    # joins carrying one long array per row, shared = |array_intersect|
    # computed map-side.  The exploded alternative (cand ⋈ shingles ⋈
    # shingles → groupBy pair) shuffles |cand|·|shingles/doc| skinny
    # rows — measured 62 s vs 0.4 s at the ×10 probe for the same 1.2M
    # candidates.  EXACT: sids are a bijection onto the shingle
    # vocabulary (distinct surrogate keys, not hashes), so
    # |arr_a ∩ arr_b| equals the string-set intersection the oracle
    # computes — no collision probability anywhere.
    overlap = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("shs").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("shs").alias("arr_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("shared"),
            F.size("arr_a").alias("n_a"),
            F.size("arr_b").alias("n_b"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )
    return overlap.withColumn("jacc", jac).filter(F.col("jacc") >= t)


def prefix_filter_qualifying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-CAP qualifying pairs (J >= t) of the exact set-similarity
    join — the intrinsic-work measure for scale analysis: the top-K
    emission cap bounds what q_prefix_filter_join RETURNS, but an exact
    join must still verify every qualifying pair to rank the top K.
    The scale probe now reads this count from the timed run itself via
    ``q_prefix_filter_join_observed`` (ADVICE r8); this standalone form
    remains for ad-hoc inspection of the qualifying-pair set."""
    return _prefix_filter_scored(spark, sf_dir).select("doc_a", "doc_b")


# --- content-defined chunking (rolling-hash boundaries) -------------------

#: boundary probability 1/8 → mean chunk ≈ 8 tokens
_CDC_MOD = 8
_CDC_WIN = 4


@register(
    "q_cdc_chunks",
    f"""
  WITH __t AS (
    SELECT doc_id, {TOKENS_SQL} AS toks
    FROM documents
    WHERE trim(text) <> '' AND len({TOKENS_SQL}) >= 1
  ),
  __wb AS (
    SELECT doc_id, toks,
      list_sort(list_distinct(list_append(
        list_filter(list_transform(range({_CDC_WIN}, greatest(len(toks), {_CDC_WIN}) + 1),
          i -> CASE WHEN i <= len(toks) AND
                    (strpos('0123456789abcdef',
                       substr(md5(array_to_string(toks[i-{_CDC_WIN - 1}:i], ' ')), 1, 1)) - 1)
                    % {_CDC_MOD} = 0
               THEN i ELSE -1 END), x -> x > 0),
        len(toks)))) AS ends
    FROM __t),
  __ch AS (
    SELECT doc_id,
      unnest(list_transform(range(1, len(ends) + 1),
        k -> md5(array_to_string(
          toks[CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END : ends[k]],
          ' ')))) AS chunk_fp
    FROM __wb)
  SELECT chunk_fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
  FROM __ch GROUP BY chunk_fp
  HAVING count(DISTINCT doc_id) >= 2
""",
    doc=f"Content-defined chunking: a rolling hash over {_CDC_WIN}-token "
    "windows cuts a chunk boundary wherever the hash's first nibble ≡ 0 "
    f"(mod {_CDC_MOD}), giving ~{_CDC_MOD}-token variable chunks whose "
    "boundaries are CONTENT-anchored — insert a sentence and only the "
    "chunks touching it change, unlike fixed-width chunking where "
    "everything downstream shifts (the q_chunk_dedup failure mode). "
    "Boundary detection, segmentation, and chunk fingerprints are all "
    "in-array higher-order expressions — zero shuffles until the final "
    "fingerprint aggregate — so the map side streams 100 TB of text "
    "and only 16-byte digests ever move. Output: chunks shared by ≥2 "
    "docs, the cross-document boilerplate CDC dedup exists to find.",
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    w, m = _CDC_WIN, _CDC_MOD
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    # documents compress to a single scan split, but the per-token rolling
    # md5 below is ~1000x the scan cost — spread the rows over all cores
    # before the heavy stage (one tiny shuffle buys full parallelism; at
    # 100 TB the many input files already provide it and this is a no-op
    # rebalance)
    tok = (
        docs.select("doc_id", tokens_col().alias("toks"))
        .filter(F.size("toks") >= 1)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # window hashes via element_at (no per-position slice allocation:
    # the slice form measured ~10x slower on long docs), then boundary
    # positions from the hash array.  The element_at offsets are derived
    # from the window constant so changing _CDC_WIN keeps the Spark and
    # DuckDB sides in lockstep.
    win_elems = ", ".join(
        f"element_at(toks, i - {k})" for k in range(w - 1, -1, -1)
    )
    ends = f"""
      array_sort(array_union(
        filter(transform(sequence({w}, greatest(size(toks), {w})),
          i -> IF(i <= size(toks) AND
                  (instr('0123456789abcdef',
                     substr(md5(concat_ws(' ', {win_elems})), 1, 1)) - 1)
                  % {m} = 0,
                  i, -1)),
        x -> x > 0),
        array(size(toks))))
    """
    # bind the boundary array ONCE: `transform(array(ends), e -> ...)` makes
    # `e` a lambda variable, so the expensive rolling-hash expression is
    # evaluated a single time per row instead of being re-inlined into the
    # starts/fps projections (measured 4x the runtime when inlined)
    fps_expr = f"""
      transform(array({ends}), e ->
        zip_with(
          zip_with(array_prepend(slice(e, 1, size(e) - 1), 0), e,
                   (p, x) -> p + 1),
          e,
          (s, en) -> md5(concat_ws(' ', slice(toks, s, en - s + 1)))))[0]
    """
    chunks = tok.select("doc_id", F.explode(F.expr(fps_expr)).alias("chunk_fp"))
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- MinHash-LSH quality evaluation ---------------------------------------

_MH_EVAL_THRESHOLDS = (0.02, 0.05, 0.1)


@register(
    "q_minhash_recall",
    f"""
  WITH __eval_docs AS (
    SELECT * FROM documents WHERE doc_id < 2500
  ),
  __toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM __eval_docs
  ),
  __sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
               AS shingle
      FROM __toks WHERE len(toks) >= 3)
  ),
  __sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM __sh GROUP BY doc_id
  ),
  {MINHASH_CAPPED_CTE_SQL},
  __cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM __mhc a JOIN __mhc b
      ON a.seed = b.seed AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
  ),
  {JACCARD_VERIFY_SQL},
  __flagged AS (
    SELECT j.doc_a, j.doc_b, j.jaccard,
           (c.doc_a IS NOT NULL) AS found
    FROM __jac j
    LEFT JOIN __cand c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
  ),
  __th AS (SELECT CAST(unnest([{", ".join(str(t) for t in _MH_EVAL_THRESHOLDS)}]) AS DOUBLE) AS threshold)
  SELECT t.threshold,
         CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN f.found THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         round(sum(CASE WHEN f.found THEN 1.0 ELSE 0.0 END) / count(*), 6)
           AS recall
  FROM __th t JOIN __flagged f ON f.jaccard >= t.threshold
  GROUP BY t.threshold
""",
    doc=f"MinHash-LSH quality evaluation: recall of the {N_SEEDS}-band "
    "(r=1) candidate set against exact-Jaccard ground truth at "
    f"thresholds {_MH_EVAL_THRESHOLDS} — the gauge for tuning "
    "bands x rows against the dedup threshold (theory: recall = "
    "1-(1-J^r)^b; this measures it on the actual corpus).  The "
    "'measure, don't guess' companion every LSH deployment needs: "
    "ground truth comes from the inverted-index exact join (the thing "
    "LSH replaces at 100 TB), run here at evaluation scale on a "
    "sample, exactly like q_ann_recall does for IVF.",
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIXED-SIZE evaluation probe set (first 2500 doc ids): ground
    # truth below is the exact inverted-index join — quadratic in
    # posting-list length, i.e. the thing LSH exists to avoid — so the
    # measurement budget must not grow with the corpus.  A constant
    # probe set keeps the evaluation O(1) in corpus size while the
    # recall estimate stays unbiased for the sampled similarity range.
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2500
    )
    sh = cut(shingles(docs), "q_minhash_recall.sh")
    cand = minhash_candidates(shingle_arrays(docs))
    truth = jaccard_pairs(sh).select("doc_a", "doc_b", "jaccard")
    flagged = truth.join(
        cand.withColumn("found", F.lit(True)), ["doc_a", "doc_b"], "left"
    ).select("jaccard", F.coalesce("found", F.lit(False)).alias("found"))
    th = spark.createDataFrame(
        [(t,) for t in _MH_EVAL_THRESHOLDS], "threshold double"
    )
    return (
        F.broadcast(th)
        .join(flagged, flagged.jaccard >= th.threshold)
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.col("found").cast("long")).alias("n_hit"),
            F.round(
                F.sum(F.col("found").cast("double")) / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
    )


# --- per-source n-gram novelty --------------------------------------------


@register(
    "q_ngram_novelty",
    f"""
  WITH {SHINGLES_SQL},
  __with_src AS (
    SELECT s.doc_id, s.shingle, d.source
    FROM __sh s JOIN documents d ON s.doc_id = d.doc_id
  ),
  __per_shingle AS (
    SELECT shingle,
           count(DISTINCT source) AS n_sources,
           min(source) AS only_source
    FROM __with_src GROUP BY shingle
  ),
  __per_source AS (
    SELECT source, count(DISTINCT shingle) AS n_shingles
    FROM __with_src GROUP BY source
  )
  SELECT p.source,
         CAST(p.n_shingles AS BIGINT) AS n_shingles,
         CAST(coalesce(e.n_exclusive, 0) AS BIGINT) AS n_exclusive,
         round(coalesce(e.n_exclusive, 0) * 1.0 / p.n_shingles, 6)
           AS exclusivity
  FROM __per_source p
  LEFT JOIN (
    SELECT only_source AS source, count(*) AS n_exclusive
    FROM __per_shingle WHERE n_sources = 1
    GROUP BY only_source) e
  ON p.source = e.source
""",
    doc="Per-source n-gram novelty: how many distinct 3-gram shingles "
    "each source contributes and what fraction appear in NO other "
    "source — the diversity gauge for keep/drop and mixture decisions "
    "(a source whose shingles all exist elsewhere adds tokens, not "
    "information).  Scale shape: source is a broadcast-joined doc "
    "attribute; both aggregates shuffle 16-byte-boundable shingle keys "
    "with map-side combine, and the per-shingle source-count table "
    "reduces to O(|distinct shingles|) — the same footprint any "
    "corpus-wide dedup already pays.",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    # two aggregate consumers (per-shingle and per-source) — checkpoint
    # the annotated shingle stream once instead of re-running the
    # explode + distinct shuffle per consumer
    # NO broadcast hint on src: one row per document — O(corpus) — a
    # broadcast caps out at Spark's 8 GB relation limit well below the
    # claimed scale; a plain hash join on doc_id costs one shuffle of
    # the skinny (doc_id, source) side
    with_src = (
        cut(shingles(docs).join(src, "doc_id"), "q_ngram_novelty.with_src")
    )
    per_shingle = with_src.groupBy("shingle").agg(
        F.countDistinct("source").alias("n_sources"),
        F.min("source").alias("only_source"),
    )
    per_source = with_src.groupBy("source").agg(
        F.countDistinct("shingle").alias("n_shingles")
    )
    exclusive = (
        per_shingle.filter(F.col("n_sources") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_exclusive"))
    )
    return per_source.join(exclusive, "source", "left").select(
        "source",
        "n_shingles",
        F.coalesce("n_exclusive", F.lit(0)).alias("n_exclusive"),
        F.round(
            F.coalesce("n_exclusive", F.lit(0)) * F.lit(1.0)
            / F.col("n_shingles"),
            6,
        ).alias("exclusivity"),
    )


# --- exact duplicated-substring span coverage ------------------------------

_DUPSPAN_W = 8  # tokens per sliding gram


@register(
    "q_duplicate_spans",
    f"""
  WITH __toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    WHERE len({TOKENS_SQL}) >= {_DUPSPAN_W}
  ),
  __grams AS (
    SELECT doc_id, u.i AS p,
           md5(array_to_string(
             list_slice(toks, u.i, u.i + {_DUPSPAN_W} - 1), ' ')) AS g
    FROM __toks t,
         UNNEST(range(1, len(t.toks) - {_DUPSPAN_W} + 2)) AS u(i)
  ),
  __dup AS (
    SELECT g FROM __grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
  ),
  __pos AS (
    SELECT gr.doc_id, gr.p FROM __grams gr JOIN __dup d ON gr.g = d.g
  ),
  __isl AS (
    SELECT doc_id, p,
           CASE WHEN max(p + {_DUPSPAN_W}) OVER (
                  PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                OR p >= max(p + {_DUPSPAN_W}) OVER (
                  PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS starts
    FROM __pos
  ),
  __grp AS (
    SELECT doc_id, p,
           CAST(sum(starts) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
    FROM __isl
  ),
  __cov AS (
    SELECT doc_id,
           CAST(sum(cov) AS BIGINT) AS covered_tokens
    FROM (
      SELECT doc_id, island, max(p) + {_DUPSPAN_W} - min(p) AS cov
      FROM __grp GROUP BY doc_id, island)
    GROUP BY doc_id
  )
  SELECT t.doc_id,
         CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
         round(coalesce(c.covered_tokens, 0) * 1.0 / len(t.toks), 6)
           AS dup_coverage
  FROM __toks t LEFT JOIN __cov c ON t.doc_id = c.doc_id
""",
    doc=f"Exact duplicated-substring span coverage (the ExactSubstr "
    "diagnostic of Lee et al. 2022's 'Deduplicating Training Data'): "
    f"a {_DUPSPAN_W}-token gram slides over EVERY offset, grams seen "
    "in >= 2 distinct docs mark their positions, and per-doc interval "
    "merging (gaps-and-islands over sorted positions; merged cover = "
    "max_p + w - min_p per island, exact integer math) yields the "
    "fraction of each doc covered by cross-doc exact duplicates — "
    "catching the offset-SHIFTED duplication that fixed-boundary "
    "chunking (q_chunk_dedup) and CDC (q_cdc_chunks) miss.  Scale "
    "shape: only 16-byte gram digests shuffle (never text), the dup-"
    "gram set joins back on the digest, and the interval merge is one "
    "per-doc window — at 100 TB this is the standard two-shuffle "
    "fingerprint pipeline plus an O(dup positions) window.",
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _DUPSPAN_W
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") >= w
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - w + 1),
                lambda i: F.struct(
                    i.alias("p"),
                    F.md5(
                        F.array_join(F.slice("toks", i, w), " ")
                    ).alias("g"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", "pg.p", "pg.g")
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    pos = grams.join(dup, "g").select("doc_id", "p")
    win = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + w).over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = pos.withColumn(
        "starts",
        F.when(
            prev_end.isNull() | (F.col("p") >= prev_end), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("starts").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg((F.max("p") + w - F.min("p")).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").alias("covered_tokens"))
    )
    return toks.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.coalesce("covered_tokens", F.lit(0))
            * F.lit(1.0)
            / F.size("toks"),
            6,
        ).alias("dup_coverage"),
    )
