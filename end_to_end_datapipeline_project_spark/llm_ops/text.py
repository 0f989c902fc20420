"""Text analysis over the ``documents`` table: token counting, quality
scoring, language ID, fingerprinting.

Everything is built-in Column expressions (split / regexp / higher-order
array functions) — JVM-side, whole-stage-codegen'd, no Python in the hot
path.  At 100 TB these run as a single scan with map-side projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import cut
from ..registry import dsum, register, spark_dsum, spark_dsum_fast
from ..sources import read_parquet_table

#: marker stopwords per language for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "y", "es", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "est", "un", "dans"],
}

STOPWORDS = sorted(set(w for ws in LANG_MARKERS.values() for w in ws))


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


#: shared tokenization: lowercase, trim, split on whitespace runs
#: explicit whitespace class, NOT \s: Java regex \s includes \x0B but
#: RE2 (DuckDB) \s does not, so a vertical tab in scraped text would
#: tokenize differently per engine — the class below is ASCII-identical
#: in Java, RE2, and Python re
TOKENS_SQL = "string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')"


def tokens_col() -> F.Column:
    return F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\x0b\f\r]+")


@register(
    "q_token_count",
    f"""
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len({TOKENS_SQL}) END AS n_tokens,
         length(text) AS n_chars_actual
  FROM documents
""",
    doc="Whitespace token counting per document (LLM-ops extension).",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(tokens_col()))
        .alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@register(
    "q_text_quality",
    f"""
  WITH t AS (
    SELECT doc_id, text, {TOKENS_SQL} AS toks,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_clean
    FROM documents
  ),
  s AS (
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           len(list_filter(toks, w -> w IN ({_sql_list(STOPWORDS)})))
             AS n_stopwords,
           n_chars - n_clean AS n_punct
    FROM t
  )
  SELECT doc_id, n_tokens, n_stopwords, n_punct,
    round(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0), 6)
      AS stopword_ratio,
    round(CAST(n_punct AS DOUBLE) / nullif(n_chars, 0), 6) AS punct_ratio,
    round(CAST(n_chars AS DOUBLE) / nullif(n_tokens, 0), 6)
      AS avg_token_span,
    round(
      0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
      + 0.2 * least(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0)
                    * 5.0, 1.0),
      6) AS quality_score
  FROM s
""",
    doc="Document quality scoring: length/stopword/punctuation signals "
    "composed into a bounded score (LLM-ops extension).",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    t = df.select(
        "doc_id",
        tokens_col().alias("toks"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")).alias("n_clean"),
    )
    s = t.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter("toks", lambda w: w.isin(STOPWORDS))).alias("n_stopwords"),
        (F.col("n_chars") - F.col("n_clean")).alias("n_punct"),
    )
    n_tok = F.col("n_tokens").cast("double")
    n_stop = F.col("n_stopwords").cast("double")
    n_punct = F.col("n_punct").cast("double")
    n_chars = F.col("n_chars").cast("double")
    return s.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        # nullif guards: an empty-text doc has n_chars = 0 (and token
        # splits can degenerate) — ANSI mode would crash the job where
        # the oracle returns NULL
        F.round(n_stop / F.nullif(n_tok, F.lit(0.0)), 6).alias(
            "stopword_ratio"
        ),
        F.round(n_punct / F.nullif(n_chars, F.lit(0.0)), 6).alias(
            "punct_ratio"
        ),
        F.round(n_chars / F.nullif(n_tok, F.lit(0.0)), 6).alias(
            "avg_token_span"
        ),
        F.round(
            0.5 * F.least(n_tok / 100.0, F.lit(1.0))
            + 0.3 * (1.0 - n_punct / F.nullif(n_chars, F.lit(0.0)))
            + 0.2
            * F.least(
                n_stop / F.nullif(n_tok, F.lit(0.0)) * 5.0, F.lit(1.0)
            ),
            6,
        ).alias("quality_score"),
    )


def _lang_hits_sql(lang: str) -> str:
    return (
        f"len(list_filter(toks, w -> w IN ({_sql_list(LANG_MARKERS[lang])})))"
    )


@register(
    "q_lang_id",
    f"""
  WITH t AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  ),
  h AS (
    SELECT doc_id,
           {_lang_hits_sql("en")} AS en_hits,
           {_lang_hits_sql("es")} AS es_hits,
           {_lang_hits_sql("de")} AS de_hits,
           {_lang_hits_sql("fr")} AS fr_hits
    FROM t
  )
  SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
    CASE
      WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits
           AND en_hits > 0 THEN 'en'
      WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
      WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
      WHEN fr_hits > 0 THEN 'fr'
      ELSE 'unknown'
    END AS lang_guess
  FROM h
""",
    doc="Stopword-marker language ID heuristic with a deterministic "
    "tie-break priority (LLM-ops extension).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    t = df.select("doc_id", tokens_col().alias("toks"))

    def _hits(markers: list[str]):
        # NB: single-arg lambda — a two-arg lambda would make PySpark pass
        # the element *index* as the second argument
        return F.size(F.filter("toks", lambda w: w.isin(markers)))

    hits = {lang: _hits(markers) for lang, markers in LANG_MARKERS.items()}
    h = t.select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
    )
    en, es, de, fr = (F.col(c) for c in ["en_hits", "es_hits", "de_hits", "fr_hits"])
    guess = (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), "en")
        .when((es >= de) & (es >= fr) & (es > 0), "es")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return h.select(
        "doc_id", "en_hits", "es_hits", "de_hits", "fr_hits", guess.alias("lang_guess")
    )


@register(
    "q_fingerprint",
    """
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
           AS fingerprint
  FROM documents
""",
    doc="Canonical document fingerprint: whitespace-normalized lowercase "
    "md5 (LLM-ops extension; md5 is identical across engines).",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"[ \t\n\x0b\f\r]+", " ")).alias(
            "fingerprint"
        ),
    )


@register(
    "q_word_explode",
    f"""
  WITH t AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS word FROM documents
  ),
  c AS (
    SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM t GROUP BY word
  )
  SELECT word, n, n_docs FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, word) AS rn FROM c)
  WHERE rn <= 20
""",
    doc="Explode/flatten + aggregate: corpus top-20 word frequencies "
    "(reference P1 explode generalized to text).",
)
def q_word_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    words = df.select("doc_id", F.explode(tokens_col()).alias("word"))
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n"), F.asc("word")).limit(20)


#: BPE-style pre-tokenization: letter runs, digit runs, single punctuation
#: marks — the GPT-2-ish split that precedes byte-pair merging.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


@register(
    "q_bpe_tokens",
    f"""
  SELECT doc_id,
         len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
         len(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}')))
           AS n_distinct_tokens
  FROM documents
""",
    doc="BPE-ish regex pre-tokenization (letter runs / digit runs / single "
    "punctuation) with total and distinct token counts — the token-budget "
    "estimator of an LLM-data pipeline, pure JVM regexp (no UDF).",
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    return df.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


#: BPE merge training: number of merges learned and the word-frequency
#: table cap that bounds trainer state (real trainers truncate the same
#: way — the corpus is scanned ONCE, iterations run on the capped table)
N_BPE_MERGES = 6
BPE_VOCAB_CAP = 4096

#: symbol delimiter inside a word's symbol string.  chr(1) cannot occur
#: in a kept word: both engines filter words containing it (symmetric),
#: and the BPE pre-tokenizer never emits whitespace.
_BPE_D = "chr(1)"
#: the fold accumulator's last symbol (segment after the final delimiter)
_BPE_LAST = "regexp_extract(acc, '([^\\x01]*)$', 1)"


def _bpe_oracle_sql() -> str:
    """K chained CTE blocks: pair-count → deterministic argmax → greedy
    merge fold (list_reduce with a delimited-string accumulator — the
    same fold the Spark side runs, so same-symbol runs like 'aaaa'
    merge identically: [aa, aa])."""
    blocks = [
        f"""
  WITH __words AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(regexp_extract_all(text, '{BPE_PATTERN}')) AS word
          FROM documents)
    WHERE length(word) > 0 AND strpos(word, {_BPE_D}) = 0
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT {BPE_VOCAB_CAP}
  ),
  __w0 AS (
    SELECT array_to_string(
             list_transform(range(1, length(word) + 1),
                            i -> substring(word, i, 1)), {_BPE_D}) AS sym,
           freq
    FROM __words
  )"""
    ]
    for k in range(1, N_BPE_MERGES + 1):
        blocks.append(
            f""",
  __p{k} AS (
    SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (
      SELECT freq,
             unnest(list_transform(range(1, len(arr)),
                    i -> struct_pack(a := arr[i], b := arr[i + 1]))) AS pr
      FROM (SELECT string_split(sym, {_BPE_D}) AS arr, freq FROM __w{k - 1})
    )
    GROUP BY pr.a, pr.b
    ORDER BY cnt DESC, a, b
    LIMIT 1
  ),
  __w{k} AS (
    SELECT list_reduce(arr, (acc, x) -> CASE
             WHEN {_BPE_LAST} = p.a AND x = p.b
             THEN substr(acc, 1, length(acc) - length({_BPE_LAST}))
                  || p.a || p.b
             ELSE acc || {_BPE_D} || x END) AS sym,
           freq
    FROM (SELECT string_split(sym, {_BPE_D}) AS arr, freq FROM __w{k - 1})
    CROSS JOIN __p{k} p
  )"""
        )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT {k} AS iter, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, cnt FROM __p{k}"
        for k in range(1, N_BPE_MERGES + 1)
    )
    return "".join(blocks) + "\n  " + unions


@register(
    "q_bpe_merges",
    _bpe_oracle_sql(),
    doc="Distributed BPE merge TRAINING (not just pre-tokenization): "
    "the corpus is scanned once into a word-frequency table capped at "
    f"the top {BPE_VOCAB_CAP} types (freq desc, word — deterministic), "
    f"then {N_BPE_MERGES} iterations of adjacent-pair counting "
    "(weighted by word freq), deterministic argmax (count desc, pair "
    "asc), and greedy left-to-right merge application run entirely on "
    "that small table.  The merge fold is a string-accumulator "
    "aggregate() whose semantics are EXACTLY canonical greedy BPE — "
    "same-symbol runs included ('aaaaa' + (a,a) → [aa, aa, a]) — and "
    "the oracle runs the identical fold via DuckDB list_reduce.  Per "
    "iteration the engine collects one 3-field row (the argmax pair — "
    "same O(1)-per-iteration discipline as q_kmeans_step); at 100 TB "
    "the only corpus-sized work is the single tokenize+count shuffle, "
    "and trainer state is bounded by the vocab cap.",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
        ).alias("word")
    )
    base = (
        words.filter(
            (F.length("word") > 0) & (F.instr("word", "\x01") == 0)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(BPE_VOCAB_CAP)
    )
    w = cut(
        base.select(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substring(F.col("word"), i, F.lit(1)),
                ),
                "\x01",
            ).alias("sym"),
            "freq",
        ),
        "q_bpe_merges.w",
    )
    # each iteration below reads w twice (pairs + merge); without
    # materialization round k would re-run the corpus tokenize + k-1
    # merge folds per consumer
    merges: list = []
    for k in range(1, N_BPE_MERGES + 1):
        arr = F.split("sym", "\x01")
        npairs = F.greatest(F.size(arr) - 1, F.lit(0))
        pairs = w.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, npairs),
                    F.slice(arr, 2, npairs),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        ).select("freq", "p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break  # pairs ran dry (all words single-symbol)
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((k, a, b, a + b, cnt))
        def make_merge_fn(pair_a: str, pair_b: str):
            aL, bL = F.lit(pair_a), F.lit(pair_b)

            def merge_fn(acc, x):
                last = F.regexp_extract(acc, "([^\\x01]*)$", 1)
                hit = (last == aL) & (x == bL)
                return F.when(
                    hit,
                    F.concat(
                        F.substring(
                            acc, F.lit(1), F.length(acc) - F.length(last)
                        ),
                        aL,
                        bL,
                    ),
                ).otherwise(F.concat(acc, F.lit("\x01"), x))

            return merge_fn

        merge_fn = make_merge_fn(a, b)

        w = cut(
            w.select(
                F.aggregate(
                    F.slice(arr, 2, npairs), F.element_at(arr, 1), merge_fn
                ).alias("sym"),
                "freq",
            ),
            "q_bpe_merges.w",
        )
    return spark.createDataFrame(
        merges,
        "iter int, pair_a string, pair_b string, merged string, cnt long",
    )


TFIDF_TOP_K = 3

#: shared by q_tfidf and q_incremental_tfidf (identical semantics — the
#: incremental form must equal the rebuild, so it carries the same oracle)
TFIDF_SQL = f"""
  WITH __tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
  ),
  __tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM __tok GROUP BY doc_id, term
  ),
  __df AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM __tok GROUP BY term
  ),
  __n AS (SELECT count(*) AS n_docs FROM documents),
  __scored AS (
    SELECT t.doc_id, t.term,
           t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS tfidf
    FROM __tf t JOIN __df d USING (term) CROSS JOIN __n n
  )
  SELECT doc_id, term, round(tfidf, 6) AS tfidf, rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, term) AS rank
    FROM __scored)
  WHERE rank <= {TFIDF_TOP_K}
"""


def tf_rows(d: DataFrame) -> DataFrame:
    """Per-doc term frequencies (doc_id, term, tf) — the immutable
    per-document state every TF-IDF variant (full, incremental batch,
    streaming ingest) builds from exactly one tokenize pass."""
    tok = d.select("doc_id", F.explode(tokens_col()).alias("term"))
    return tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def tfidf_scored(tf: DataFrame, df: DataFrame, n: DataFrame) -> DataFrame:
    """tf × ln(N/df) with the top-k ranking window — the shared re-score
    kernel: ``df`` (term, df) and ``n`` (1-row n_docs) broadcast onto
    the tf rows.  Rank on the ROUNDED score (both engines): ln() is
    libm-derived, so two mathematically-equal scores (e.g. 2*ln(4) vs
    ln(16)) can differ by an ulp differently per engine and flip the
    unrounded order — rounding first makes the rank tie-break on
    ``term`` fire identically (round-before-rank, the repo
    convention)."""
    from pyspark.sql import Window as W

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
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


@register(
    "q_tfidf",
    TFIDF_SQL,
    doc="TF-IDF top-3 terms per document: term frequency × ln(N/df), "
    "document frequency via a shared token explode, top-k by ranking "
    "window with a term tiebreak. The df table is small → broadcast; "
    "N arrives as a broadcast scalar, not a driver collect.",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    tf = tf_rows(docs)
    # df = rows-per-term OVER tf, not count_distinct over tok: the tf
    # group already is one row per (doc, term), so this is the same df
    # while replacing the two-phase distinct aggregate with a plain
    # count whose map-side partial collapses to per-partition term
    # counts.  (Exchange reuse between the branches still does not
    # fire — column pruning gives them different exchange schemas — so
    # the explode runs twice; at 0.9 s / 1.2x-at-x10 the alternative,
    # materializing the full tf matrix, would cost more than it saves.)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return tfidf_scored(tf, df, n)


@register(
    "q_incremental_tfidf",
    TFIDF_SQL,
    doc="Incremental TF-IDF maintenance: per-doc term frequencies are "
    "IMMUTABLE state (a doc's tf never changes after ingest), so an "
    "ingest increment tokenizes ONLY the delta (doc_id % 10 = 7), "
    "merges the delta's df counts into the stored base df table with "
    "one full-outer sum (df partitions additively across disjoint doc "
    "sets) and adds the doc counts, then re-scores by broadcasting the "
    "merged df/N onto the stored tf rows — the historical corpus is "
    "never re-tokenized, yet every OLD doc's score shifts correctly as "
    "the corpus grows (idf moves with N/df). The ORACLE is the full "
    "TF-IDF rebuild, so the gate proves maintenance ≡ rebuild. At "
    "100 TB the per-ingest cost is the delta tokenize + an O(vocab) "
    "stat merge; the broadcast-join re-score is the same plan the "
    "rebuild uses, minus its corpus-wide tokenize/df shuffles.",
)
def q_incremental_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 10 == 7
    base = docs.filter(~is_delta)
    delta = docs.filter(is_delta)

    # the stored pre-ingest state (production reads these back): the
    # base per-doc tf matrix and its derived df / doc-count stats
    tf_base = cut(tf_rows(base), "q_incremental_tfidf.tf_base")
    # the delta-only tokenize pass
    tf_delta = cut(tf_rows(delta), "q_incremental_tfidf.tf_delta")
    n_delta = delta.agg(F.count(F.lit(1)).alias("n_d"))
    return merge_and_rescore_tfidf(base, tf_base, tf_delta, n_delta)


def merge_and_rescore_tfidf(
    base: DataFrame,
    tf_base: DataFrame,
    tf_delta: DataFrame,
    n_delta: DataFrame,
) -> DataFrame:
    """Additive stat merge + broadcast re-score shared by the batch and
    streaming ingest paths: disjoint doc sets partition every
    (doc, term) row, so df_full = df_base + df_delta exactly, and N
    adds.  ``n_delta`` is a 1-row (n_d) frame — supplied separately
    from ``tf_delta`` because zero-token docs count toward N without
    producing tf rows."""
    df_base = tf_base.groupBy("term").agg(F.count(F.lit(1)).alias("df_b"))
    n_base = base.agg(F.count(F.lit(1)).alias("n_b"))
    df_delta = tf_delta.groupBy("term").agg(F.count(F.lit(1)).alias("df_d"))
    df = (
        df_base.join(df_delta, "term", "full")
        .select(
            "term",
            (
                F.coalesce("df_b", F.lit(0)) + F.coalesce("df_d", F.lit(0))
            ).alias("df"),
        )
    )
    n = n_base.crossJoin(n_delta).select(
        (F.col("n_b") + F.col("n_d")).alias("n_docs")
    )
    return tfidf_scored(tf_base.unionByName(tf_delta), df, n)


@register(
    "q_corpus_prep",
    f"""
  WITH __scored AS (
    SELECT doc_id, lang, source, n_chars,
           md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
             AS fingerprint,
           len({TOKENS_SQL}) AS n_tokens,
           length(text)
             - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
             AS n_punct,
           length(text) AS n_chars_raw
    FROM documents
  ),
  __filtered AS (
    SELECT * FROM __scored
    WHERE lang IN ('en', 'es')
      AND n_tokens >= 5
      AND CAST(n_punct AS DOUBLE) / n_chars_raw <= 0.2
  ),
  __deduped AS (
    SELECT * FROM (
      SELECT *, row_number() OVER (
        PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM __filtered) WHERE rn = 1
  )
  SELECT lang, source,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars_raw) AS BIGINT) AS total_chars
  FROM __deduped GROUP BY lang, source
""",
    doc="End-to-end training-data prep composite: language filter → "
    "quality gates (token floor, punctuation ceiling) → exact dedup "
    "(deterministic min-doc_id survivor per content fingerprint) → "
    "per-(lang, source) token-budget accounting. One declarative plan: "
    "scan-side filters, one dedup shuffle, one agg shuffle.",
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_parquet_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"[ \t\n\x0b\f\r]+", " ")).alias(
            "fingerprint"
        ),
        F.size(tokens_col()).alias("n_tokens"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("n_punct"),
        F.length("text").alias("n_chars_raw"),
    )
    filtered = scored.filter(
        F.col("lang").isin("en", "es")
        & (F.col("n_tokens") >= 5)
        & (F.col("n_punct").cast("double") / F.col("n_chars_raw") <= 0.2)
    )
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_raw").alias("total_chars"),
    )


CHUNK_SIZE = 50
CHUNK_STRIDE = 25


@register(
    "q_chunk_documents",
    f"""
  WITH __tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  ),
  __chunks AS (
    SELECT doc_id,
           CAST(s.i AS INTEGER) AS chunk_no,
           list_slice(toks, s.i * {CHUNK_STRIDE} + 1,
                      s.i * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS chunk
    FROM __tok
    CROSS JOIN LATERAL (
      SELECT unnest(range(0,
        CAST(ceil(CAST(greatest(len(toks) - {CHUNK_SIZE}, 0) AS DOUBLE)
                  / {CHUNK_STRIDE}) AS BIGINT) + 1)) AS i
    ) s
    WHERE len(toks) > 0
  )
  SELECT doc_id, chunk_no,
         len(chunk) AS n_tokens,
         md5(array_to_string(chunk, ' ')) AS chunk_md5
  FROM __chunks
""",
    doc="Overlapping context-window chunking (size 50, stride 25) for LLM "
    "ingestion: tokenize once, explode chunk indices, slice the token "
    "array per chunk — all JVM-side array expressions, fan-out happens "
    "inside the scan stage with no shuffle; chunk content verified via "
    "md5 of the joined tokens.",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    n_chunks = (
        F.ceil(
            F.greatest(F.size("toks") - CHUNK_SIZE, F.lit(0)).cast("double")
            / CHUNK_STRIDE
        ).cast("long")
        + 1
    )
    chunks = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        "toks",
    ).select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.slice(
            "toks", F.col("chunk_no") * CHUNK_STRIDE + 1, CHUNK_SIZE
        ).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_no",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )


@register(
    "q_pmi_bigrams",
    f"""
  WITH __toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  ),
  __uni AS (
    SELECT tok, count(*) AS c1 FROM (
      SELECT unnest(toks) AS tok FROM __toks)
    GROUP BY tok
  ),
  __n1 AS (SELECT sum(c1) AS n_tokens FROM __uni),
  __bi AS (
    SELECT w1, w2, count(*) AS c2 FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
             unnest(list_transform(range(1, len(toks)), i -> toks[i + 1]))
               AS w2
      FROM __toks WHERE len(toks) >= 2)
    GROUP BY w1, w2
  ),
  __n2 AS (SELECT sum(c2) AS n_bigrams FROM __bi),
  __pmi AS (
    SELECT b.w1, b.w2, b.c2 AS n_pair,
           round(ln((CAST(b.c2 AS DOUBLE) / n2.n_bigrams)
                    / ((CAST(u1.c1 AS DOUBLE) / n1.n_tokens)
                       * (CAST(u2.c1 AS DOUBLE) / n1.n_tokens))), 6) AS pmi
    FROM __bi b
    JOIN __uni u1 ON b.w1 = u1.tok
    JOIN __uni u2 ON b.w2 = u2.tok
    CROSS JOIN __n1 n1 CROSS JOIN __n2 n2
    WHERE b.c2 >= 20
  )
  SELECT w1, w2, n_pair, pmi FROM (
    SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn
    FROM __pmi) WHERE rn <= 20
""",
    doc="Collocation mining via pointwise mutual information: corpus "
    "unigram/bigram counts, PMI = ln(p(ab)/(p(a)p(b))), top-20 with a "
    "total-order tiebreak. Scale shape: the unigram vocabulary is "
    "small → broadcast joins onto the bigram counts; the only big "
    "shuffles are the two counting aggregations, both map-side "
    "combinable.",
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col().alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    n1 = uni.agg(F.sum("c1").alias("n_tokens"))
    n2 = bi.agg(F.sum("c2").alias("n_bigrams"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c1a"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1b"))
    pmi = (
        bi.filter(F.col("c2") >= 20)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c2").cast("double") / F.col("n_bigrams"))
                    / (
                        (F.col("c1a").cast("double") / F.col("n_tokens"))
                        * (F.col("c1b").cast("double") / F.col("n_tokens"))
                    )
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        pmi.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("w1", "w2", F.col("c2").alias("n_pair"), "pmi")
    )


# --- training-set assembly ---------------------------------------------------

#: 2-hex-digit md5 prefix thresholds: < e6 → train (~89.8%), < f3 → val
#: (~5.1%), rest → test (~5.1%)
SPLIT_TRAIN, SPLIT_VAL = "e6", "f3"


@register(
    "q_train_test_split",
    f"""
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN}'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_VAL}'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
""",
    doc="Deterministic train/val/test assignment: a 2-hex-digit md5(doc_id) "
    "prefix buckets each doc ~90/5/5. Like q_hash_sample this is "
    "reproducible across runs, engines, and cluster sizes — re-ingesting "
    "a doc always lands it in the same split (no train/test leakage when "
    "the corpus is re-built) — and it is a pure map: no shuffle, no "
    "stored split table, pushes down past the scan.",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(prefix < SPLIT_TRAIN, "train")
        .when(prefix < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


VOCAB_K = 1000


@register(
    "q_build_vocab",
    f"""
  WITH __tok AS (
    SELECT unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  __counts AS (
    SELECT token, count(*) AS n_occurrences
    FROM __tok WHERE token <> '' GROUP BY token
  )
  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT)
           AS token_id,
         token, n_occurrences
  FROM __counts
  QUALIFY token_id <= {VOCAB_K}
""",
    doc=f"Vocabulary building: corpus-wide token frequencies, top {VOCAB_K} "
    "by (count desc, token) — a total order, so ids are deterministic — "
    "assigned contiguous token_ids. The rank window runs on the "
    "AGGREGATED distinct-token table (≪ corpus; partial counts map-side), "
    "and at 100 TB the two-pass bucket-prefix-sum rank of "
    "q_sorted_neighborhood replaces the single-partition window.",
)
def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_parquet_table(spark, sf_dir, "documents")
    counts = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(tokens_col()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("bigint"))
        .filter(F.col("token_id") <= VOCAB_K)
        .select("token_id", "token", "n_occurrences")
    )


@register(
    "q_unigram_logprob",
    f"""
  WITH __tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  __vocab AS (
    SELECT token, count(*) AS n FROM __tok GROUP BY token
  ),
  __total AS (
    SELECT CAST(sum(n) AS DOUBLE) AS total FROM __vocab
  )
  SELECT doc_id, count(*) AS n_tokens,
         CAST(SUM(CAST(round(ln(v.n / t.total), 6) AS DECIMAL(30,6)))
              AS DOUBLE) / count(*) AS avg_logprob
  FROM __tok j
  JOIN __vocab v USING (token)
  CROSS JOIN __total t
  GROUP BY doc_id
""",
    doc="Unigram language-model quality score: train a unigram LM on the "
    "corpus itself (token frequencies / total), score each doc by mean "
    "log-probability — the cheap perplexity proxy used to rank scrape "
    "quality before an expensive model-based filter. The vocab is an "
    "aggregate ≪ corpus, so the score join is a BROADCAST (no shuffle of "
    "the token stream, immune to stopword skew); per-token logprobs are "
    "round(·,6) then decimal-summed for engine-exact parity.",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import spark_dsum

    docs = read_parquet_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", F.explode(tokens_col()).alias("token"))
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").cast("double").alias("total"))
    scored = tok.join(F.broadcast(vocab), "token").crossJoin(
        F.broadcast(total)
    )
    logp = F.round(F.log(F.col("n") / F.col("total")), 6)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        # round(·,6) terms are 6-decimal exacts — fast contract
        (spark_dsum_fast(logp, 6) / F.count(F.lit(1))).alias("avg_logprob"),
    )


# --- BM25 retrieval -------------------------------------------------------

#: BM25 parameters (Robertson et al.) and the fixed keyword query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "hash", "merge")


@register(
    "q_bm25",
    f"""
  WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  dl AS (
    SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id
  ),
  stats AS (
    SELECT count(*) AS n_docs,
           {dsum("doclen")} / count(*) AS avgdl
    FROM dl
  ),
  tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM tok
    WHERE token IN ({", ".join(f"'{q}'" for q in BM25_QUERY)})
    GROUP BY doc_id, token
  ),
  df AS (
    SELECT token, count(*) AS df FROM tf GROUP BY token
  ),
  scored AS (
    SELECT t.doc_id,
           sum(
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (t.tf * ({BM25_K1} + 1.0))
             / (t.tf + {BM25_K1}
                * (1.0 - {BM25_B} + {BM25_B} * l.doclen / s.avgdl))
           ) AS score,
           count(*) AS n_terms_hit
    FROM tf t
    JOIN df d ON d.token = t.token
    JOIN dl l ON l.doc_id = t.doc_id
    CROSS JOIN stats s
    GROUP BY t.doc_id
  )
  SELECT doc_id, round(score, 6) AS score, n_terms_hit
  FROM scored
  ORDER BY round(score, 6) DESC, doc_id
  LIMIT 20
""",
    doc="BM25 keyword retrieval (k1=1.2, b=0.75): ONE explode pass — "
    "doclen and the per-query-term tfs come out of a single "
    "groupBy(doc_id) with conditional counts (the lazy tf/df/dl-as-"
    "separate-DataFrames form re-ran the scan+explode up to 4x: no "
    "exchange reuse between branches whose partial aggregates differ), "
    "then a 3-row stack unpivot; df and corpus stats are tiny "
    "aggregates broadcast to the scoring expression. Top-20 by "
    "tiebroken TakeOrderedAndProject. At 100 TB the token explode is "
    "paid exactly once, never leaves the scan stage, and the only "
    "all-docs shuffle is the compact (doc_id, doclen, tf x3) row.",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    per_doc = cut(
        tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("doclen"),
            *[
                F.count(F.when(F.col("token") == q, 1)).alias(f"tf_{i}")
                for i, q in enumerate(BM25_QUERY)
            ],
        ),
        "q_bm25.per_doc",
        eager=False,
    )
    # lazy checkpoint: stats and tf both consume per_doc, and their
    # differing column pruning defeats exchange reuse — without the
    # materialization the full token explode runs twice.  per_doc is
    # O(docs) compact rows (5 numeric cols), the token stream is not.
    # eager=False stores nothing until the first action; under AQE,
    # building the frame still runs the map stage below its exchange
    # (1 job at sf0.001).
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # doclen is an integer — fast contract at frac 0
        (
            spark_dsum_fast(F.col("doclen").cast("double"), 0)
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    stack_args = ", ".join(
        f"'{q}', tf_{i}" for i, q in enumerate(BM25_QUERY)
    )
    tf = per_doc.select(
        "doc_id",
        "doclen",
        F.expr(
            f"stack({len(BM25_QUERY)}, {stack_args}) AS (token, tf)"
        ),
    ).filter(F.col("tf") > 0)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    partial = (
        idf
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(partial), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)


# --- per-source token entropy ---------------------------------------------


@register(
    "q_token_entropy",
    f"""
  WITH tok AS (
    SELECT source, unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  c AS (
    SELECT source, token, count(*) AS n FROM tok GROUP BY source, token
  ),
  t AS (
    SELECT source, sum(n) AS tot, count(*) AS vocab FROM c GROUP BY source
  )
  SELECT c.source,
         CAST(min(t.tot) AS BIGINT) AS n_tokens,
         min(t.vocab) AS vocab_size,
         CAST(SUM(CAST(round(-(CAST(c.n AS DOUBLE) / t.tot)
                             * ln(CAST(c.n AS DOUBLE) / t.tot), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS entropy
  FROM c JOIN t ON c.source = t.source
  GROUP BY c.source
""",
    doc="Per-source Shannon entropy of the token distribution — the "
    "lexical-diversity signal used to spot template-heavy or spammy "
    "sources. Per-token -p*ln(p) terms are rounded then decimal-"
    "summed, so the entropy is independent of partial-aggregation "
    "order. Two shuffles, both on shrinking keys.",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    tok = docs.select("source", F.explode(tokens_col()).alias("token"))
    c = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("n").cast("double") / F.col("tot")
    term = F.round(-p * F.log(p), 9).cast("decimal(30,9)")
    return (
        c.join(t, "source")
        .groupBy("source")
        .agg(
            F.min("tot").alias("n_tokens"),
            F.min("vocab").alias("vocab_size"),
            F.sum(term).cast("double").alias("entropy"),
        )
    )


# --- model-based quality filtering ----------------------------------------

# fixed logistic-regression weights (intercept, ln n_tok, type-token
# ratio, stopword ratio, avg token length) — stand-in for a trained
# fastText/LR quality classifier served as pure column expressions
_QC_W = (-2.0, 0.55, 1.8, -3.0, 0.25)


@register(
    "q_quality_classifier",
    f"""
  WITH __f AS (
    SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tok,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
           CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE)
             / len(toks) AS stop_ratio,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks) AS avg_len
    FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
    WHERE len(toks) > 0)
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-({_QC_W[0]!r} + {_QC_W[1]!r} * ln(n_tok)
               + {_QC_W[2]!r} * ttr + {_QC_W[3]!r} * stop_ratio
               + {_QC_W[4]!r} * avg_len))), 6) AS quality_score,
         round(1.0 / (1.0 + exp(-({_QC_W[0]!r} + {_QC_W[1]!r} * ln(n_tok)
               + {_QC_W[2]!r} * ttr + {_QC_W[3]!r} * stop_ratio
               + {_QC_W[4]!r} * avg_len))), 6) >= 0.5 AS keep
  FROM __f
""",
    doc="Model-based quality filtering: a fixed-weight logistic classifier "
    "(the serving half of q_logreg_grad) scored as pure column "
    "expressions over per-doc lexical features — token count, "
    "type-token ratio, stopword ratio, mean token length. No UDF, no "
    "shuffle: feature extraction and the sigmoid all run inside the "
    "scan stage's codegen, which is exactly how a trained filter "
    "should serve over 100 TB. Identical weight literals on both "
    "engines; score rounded to 6.",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = tokens_col()
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_tok = F.size("toks").cast("double")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter("toks", lambda t: t.isin("the", "a"))).cast("double")
        / n_tok
    )
    avg_len = (
        F.aggregate(
            F.transform("toks", lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_tok
    )
    w0, w1, w2, w3, w4 = _QC_W
    z = w0 + w1 * F.log(n_tok) + w2 * ttr + w3 * stop_ratio + w4 * avg_len
    score = F.round(1.0 / (1.0 + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


_OOV_VOCAB_K = 20


@register(
    "q_oov_rate",
    f"""
  WITH __tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  ),
  __vocab AS (
    SELECT tok FROM (
      SELECT tok, count(*) AS c FROM __tok GROUP BY tok
      ORDER BY c DESC, tok LIMIT {_OOV_VOCAB_K})
  )
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS oov_rate
  FROM __tok t
  LEFT JOIN __vocab v ON v.tok = t.tok
  GROUP BY t.doc_id
""",
    doc=f"Tokenizer-vocabulary coverage: build the top-{_OOV_VOCAB_K} "
    "vocabulary (count desc, token asc tiebreak — deterministic at the "
    "boundary) and score every document's out-of-vocabulary token "
    "fraction against it. The vocabulary is O(K) and broadcasts; the "
    "token stream joins map-side, so the only corpus shuffle is the "
    "per-doc aggregation — the standard pre-tokenization health check "
    "before committing a vocab to a 100 TB run.",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col()).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.round(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


_FH_BUCKETS = 64


@register(
    "q_feature_hashing",
    f"""
  WITH __tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  )
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
              % {_FH_BUCKETS} AS INT) AS bucket,
         count(*) AS cnt
  FROM __tok
  GROUP BY doc_id, bucket
""",
    doc=f"Feature hashing (the hashing trick): tokens map to "
    f"{_FH_BUCKETS} buckets via the first 8 md5 hex digits mod D — "
    "md5 is bit-identical across engines, so the sparse (doc, bucket, "
    "count) vectors are exactly reproducible, unlike murmur-based "
    "HashingTF whose seed is engine-private. No vocabulary state at "
    "all — the defining property that lets featurization run "
    "embarrassingly parallel over 100 TB with one (doc, bucket) "
    "shuffle.",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % _FH_BUCKETS
    ).cast("int")
    return (
        tok.withColumn("bucket", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_inverted_index",
    f"""
  WITH __tok AS (
    SELECT DISTINCT doc_id, tok
    FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents)
  )
  SELECT tok AS token,
         count(*) AS df,
         array_agg(doc_id ORDER BY doc_id) AS postings
  FROM __tok
  GROUP BY tok
""",
    doc="Inverted-index construction: token → sorted posting list + "
    "document frequency. Postings sort inside each token's aggregate "
    "(order-insensitive to shuffle arrival), so the index is "
    "deterministic; one (token) shuffle after per-doc distinct. At "
    "100 TB posting lists for stopword-class tokens are the skew "
    "risk — the production layout shards them as (token, block) "
    "segments, which this per-token build is the correctness oracle "
    "for.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col()).alias("token")
    ).distinct()
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )


#: shared WITH-prelude: train NB, score every doc, rank classes per doc
_NB_WITH = f"""
  WITH __tok AS (
    SELECT doc_id, source, unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  __classes AS (
    SELECT source AS c, count(DISTINCT doc_id) AS n_docs FROM __tok GROUP BY 1
  ),
  __prior AS (
    SELECT c, round(ln(CAST(n_docs AS DOUBLE)
                       / (SELECT sum(n_docs) FROM __classes)), 6) AS lp
    FROM __classes
  ),
  __tc AS (
    SELECT source AS c, token, count(*) AS cnt FROM __tok GROUP BY 1, 2
  ),
  __ct AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS total FROM __tc GROUP BY 1),
  __v AS (SELECT count(DISTINCT token) AS vocab FROM __tc),
  __scores AS (
    SELECT t.doc_id, t.source AS true_source, cl.c,
           max(p.lp) + CAST(SUM(CAST(round(ln(
               (coalesce(tc.cnt, 0) + 1.0) / (ct.total + v.vocab)), 6)
             AS DECIMAL(30,6))) AS DOUBLE) AS score
    FROM __tok t
    CROSS JOIN (SELECT c FROM __classes) cl
    LEFT JOIN __tc tc ON tc.c = cl.c AND tc.token = t.token
    JOIN __ct ct ON ct.c = cl.c
    JOIN __prior p ON p.c = cl.c
    CROSS JOIN __v v
    GROUP BY t.doc_id, t.source, cl.c
  ),
  __pred AS (
    SELECT doc_id, true_source, c AS pred_source,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, c) AS rn
    FROM __scores
  )"""


@register(
    "q_naive_bayes",
    f"""
  {_NB_WITH}
  SELECT true_source, pred_source, count(*) AS n_docs
  FROM __pred WHERE rn = 1
  GROUP BY 1, 2
""",
    doc="Multinomial Naive Bayes trained AND applied in one plan: "
    "per-class priors and Laplace-smoothed token likelihoods are "
    "aggregates ≪ corpus; the model is PIVOTED to a token → k-term-"
    "columns table and broadcast, so each token occurrence does ONE "
    "hash probe and the per-doc score is k decimal sums in a single "
    "shuffle of the un-expanded token stream (the earlier ×k "
    "crossJoin row inflation measured 7.9 s at sf0.1 vs 2.9 s for "
    "this form — the class fan-out now lives in narrow agg buffers, "
    "not shuffle rows). Deterministic argmax (score desc, class asc) "
    "via array_sort over (−score, class) structs — no per-doc window "
    "— and the output is the k×k confusion matrix. The one O(k) "
    "driver collect is the class catalog (bounded by the data model, "
    "k=20 here), needed to name the pivot columns. Caveat: the model "
    "broadcast is O(vocab·k) — fine for any bounded feature space; an "
    "open-vocabulary corpus at 100 TB flips the model join to a "
    "shuffle join on token (the broadcast-row gate pins the current "
    "shape).",
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    tok = docs.select(
        "doc_id", "source", F.explode(tokens_col()).alias("token")
    )
    # O(k) collect: the class catalog (+ per-class doc counts for the
    # priors) — k is a fixed catalog dimension, not data-sized.  Counted
    # on the docs scan, not the token explode: every trim-non-empty doc
    # yields >=1 token, so count(*) per source over docs equals
    # count_distinct(doc_id) per source over the exploded stream (the
    # oracle's __classes) without a second token pass
    cls_rows = (
        docs.groupBy(F.col("source").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    cls = sorted(r["c"] for r in cls_rows)
    n_docs = {r["c"]: r["n_docs"] for r in cls_rows}
    nd_total = float(sum(n_docs.values()))
    # priors as literal expressions; rounding stays Spark-side so the
    # HALF_UP semantics match the oracle exactly
    lp = {
        c: F.round(F.log(F.lit(float(n_docs[c])) / F.lit(nd_total)), 6)
        for c in cls
    }
    # lazy checkpoint: tc feeds THREE consumers (the pivoted model, ct,
    # vocab) and each would re-run the token explode + (c, token)
    # shuffle from scratch — tc itself is the compact model table
    # (O(classes x vocab) rows), cheap to materialize once
    tc = cut(
        tok.groupBy(F.col("source").alias("c"), "token")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "q_naive_bayes.tc",
        eager=False,
    )
    # one-row broadcast frames: per-class token totals and vocab size
    ct_row = (
        tc.groupBy()
        .pivot("c", cls)
        .agg(F.sum("cnt"))
        .select(*[F.col(f"`{c}`").alias(f"total_{i}") for i, c in enumerate(cls)])
    )
    vocab = tc.agg(F.count_distinct("token").alias("vocab"))
    # token → k Laplace-smoothed round-6 log-likelihood terms, one row
    # per vocab token (every tok token is in the model — same corpus)
    model = (
        tc.groupBy("token")
        .pivot("c", cls)
        .agg(F.first("cnt"))
        .select(
            "token",
            *[F.col(f"`{c}`").alias(f"cnt_{i}") for i, c in enumerate(cls)],
        )
        .crossJoin(F.broadcast(ct_row))
        .crossJoin(F.broadcast(vocab))
        .select(
            "token",
            *[
                F.round(
                    F.log(
                        (F.coalesce(F.col(f"cnt_{i}"), F.lit(0)) + 1.0)
                        / (F.col(f"total_{i}") + F.col("vocab"))
                    ),
                    6,
                ).alias(f"t{i}")
                for i in range(len(cls))
            ],
        )
    )
    sums = (
        tok.join(F.broadcast(model), "token")
        .groupBy("doc_id", F.col("source").alias("true_source"))
        .agg(
            *[
                # terms are round(·, 6) doubles (6-decimal exacts, |·|
                # ≤ ~30) — spark_dsum_fast contract holds at frac 6
                spark_dsum_fast(F.col(f"t{i}"), 6).alias(f"s{i}")
                for i in range(len(cls))
            ]
        )
    )
    # argmax: ascending sort on (−score, class) = (score desc, class asc)
    pred = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-(lp[c] + F.col(f"s{i}"))).alias("ns"),
                    F.lit(c).alias("pc"),
                )
                for i, c in enumerate(cls)
            ]
        )
    )[0]["pc"]
    return (
        sums.select("true_source", pred.alias("pred_source"))
        .groupBy("true_source", "pred_source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q_dataset_card",
    f"""
  WITH __base AS (
    SELECT doc_id, lang, source, n_chars,
           len({TOKENS_SQL}) AS n_tokens,
           md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
    FROM documents WHERE trim(text) <> ''
  ),
  __tok AS (
    SELECT unnest({TOKENS_SQL}) AS token
    FROM documents WHERE trim(text) <> ''
  ),
  __m AS (
    SELECT count(*) AS n_docs,
           CAST(sum(n_tokens) AS DOUBLE) AS n_tokens_total,
           CAST(sum(n_chars) AS DOUBLE) AS n_chars_total,
           count(DISTINCT fp) AS n_unique,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources
    FROM __base
  ),
  __v AS (SELECT count(DISTINCT token) AS vocab FROM __tok)
  SELECT u.metric, round(u.value, 6) AS value
  FROM __m, __v, LATERAL (VALUES
    ('n_docs', CAST(n_docs AS DOUBLE)),
    ('n_tokens_total', n_tokens_total),
    ('avg_doc_tokens', n_tokens_total / n_docs),
    ('avg_token_chars', n_chars_total / n_tokens_total),
    ('exact_dup_rate', 1.0 - CAST(n_unique AS DOUBLE) / n_docs),
    ('n_langs', CAST(n_langs AS DOUBLE)),
    ('n_sources', CAST(n_sources AS DOUBLE)),
    ('vocab_size', CAST(vocab AS DOUBLE))
  ) AS u(metric, value)
""",
    doc="Dataset-card statistics in one pass: corpus size, token volume, "
    "per-doc averages, exact-duplicate rate (content-fingerprint "
    "distinct ratio), language/source diversity, vocabulary size — the "
    "summary block a training-data release publishes. Two aggregates "
    "over one scan (global stats + vocab) fanned out to metric rows "
    "via a literal VALUES — never one scan per metric.",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(tokens_col()).alias("n_tokens"),
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"[ \t\n\x0b\f\r]+", " ")).alias(
            "fp"
        ),
    )
    m = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("double").alias("n_tokens_total"),
        F.sum("n_chars").cast("double").alias("n_chars_total"),
        F.count_distinct("fp").alias("n_unique"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
    )
    v = docs.select(F.explode(tokens_col()).alias("token")).agg(
        F.count_distinct("token").alias("vocab")
    )
    pairs = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_tokens_total", F.col("n_tokens_total")),
        ("avg_doc_tokens", F.col("n_tokens_total") / F.col("n_docs")),
        ("avg_token_chars", F.col("n_chars_total") / F.col("n_tokens_total")),
        (
            "exact_dup_rate",
            1.0 - F.col("n_unique").cast("double") / F.col("n_docs"),
        ),
        ("n_langs", F.col("n_langs").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("vocab_size", F.col("vocab").cast("double")),
    ]
    arr = F.array(
        *[
            F.struct(F.lit(k).alias("metric"), F.round(c, 6).alias("value"))
            for k, c in pairs
        ]
    )
    return (
        m.crossJoin(F.broadcast(v))
        .select(F.explode(arr).alias("p"))
        .select("p.metric", "p.value")
    )


@register(
    "q_classifier_metrics",
    f"""
  {_NB_WITH},
  __cm AS (
    SELECT true_source, pred_source, count(*) AS n
    FROM __pred WHERE rn = 1 GROUP BY 1, 2
  ),
  __classes2 AS (
    SELECT DISTINCT true_source AS class FROM __cm
  ),
  __per AS (
    SELECT c.class,
           coalesce((SELECT CAST(sum(n) AS BIGINT) FROM __cm
                     WHERE true_source = c.class AND pred_source = c.class),
                    0) AS tp,
           coalesce((SELECT CAST(sum(n) AS BIGINT) FROM __cm
                     WHERE pred_source = c.class), 0) AS n_pred,
           coalesce((SELECT CAST(sum(n) AS BIGINT) FROM __cm
                     WHERE true_source = c.class), 0) AS n_true
    FROM __classes2 c
  )
  SELECT class, tp, n_pred, n_true,
         round(coalesce(CAST(tp AS DOUBLE) / nullif(n_pred, 0), 0.0), 6)
           AS precision,
         round(coalesce(CAST(tp AS DOUBLE) / nullif(n_true, 0), 0.0), 6)
           AS recall,
         round(coalesce(2.0 * tp / nullif(n_pred + n_true, 0), 0.0), 6)
           AS f1
  FROM __per
""",
    doc="Per-class precision / recall / F1 from the Naive Bayes "
    "confusion matrix — the eval readout that closes the train → "
    "classify → evaluate loop (F1 = 2·TP/(pred+true) is the "
    "harmonic-mean identity, division NULL-guarded for empty "
    "classes). Pure arithmetic over the k×k matrix: the expensive "
    "part is the shared scoring plan, the metrics layer costs "
    "nothing at any scale.",
)
def q_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cm = q_naive_bayes(spark, sf_dir)
    tp = cm.filter(F.col("true_source") == F.col("pred_source")).select(
        F.col("true_source").alias("class"), F.col("n_docs").alias("tp")
    )
    n_pred = cm.groupBy(F.col("pred_source").alias("class")).agg(
        F.sum("n_docs").alias("n_pred")
    )
    n_true = cm.groupBy(F.col("true_source").alias("class")).agg(
        F.sum("n_docs").alias("n_true")
    )
    out = (
        n_true.join(n_pred, "class", "full_outer")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
        )
    )
    prec = F.col("tp").cast("double") / F.nullif(
        F.col("n_pred"), F.lit(0)
    )
    rec = F.col("tp").cast("double") / F.nullif(F.col("n_true"), F.lit(0))
    f1 = 2.0 * F.col("tp") / F.nullif(
        F.col("n_pred") + F.col("n_true"), F.lit(0)
    )
    return out.select(
        "class",
        "tp",
        "n_pred",
        "n_true",
        F.round(F.coalesce(prec, F.lit(0.0)), 6).alias("precision"),
        F.round(F.coalesce(rec, F.lit(0.0)), 6).alias("recall"),
        F.round(F.coalesce(f1, F.lit(0.0)), 6).alias("f1"),
    )


# --- character-class composition (script mix) -----------------------------


def _cc_count_sql(pattern: str) -> str:
    return (
        f"length(text) - length(regexp_replace(text, '{pattern}', '', 'g'))"
    )


@register(
    "q_script_mix",
    f"""
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(sum({_cc_count_sql('[a-zA-Z]')}) AS BIGINT) AS n_alpha,
         CAST(sum({_cc_count_sql('[0-9]')}) AS BIGINT) AS n_digit,
         CAST(sum({_cc_count_sql('[ ]')}) AS BIGINT) AS n_space,
         CAST(sum({_cc_count_sql('[^a-zA-Z0-9 ]')}) AS BIGINT) AS n_other,
         round(CAST(sum({_cc_count_sql('[a-zA-Z]')}) AS DOUBLE)
               / nullif(sum(length(text)), 0), 6) AS alpha_ratio,
         round(CAST(sum({_cc_count_sql('[^a-zA-Z0-9 ]')}) AS DOUBLE)
               / nullif(sum(length(text)), 0), 6) AS other_ratio
  FROM documents
  GROUP BY lang
""",
    doc="Character-class composition per language (the script-mix / "
    "mojibake detector): alpha, digit, space, and other-byte counts per "
    "document folded into per-language totals and ratios — the cheap "
    "first-pass signal for wrong-encoding or wrong-script contamination "
    "in a multilingual scrape (a 'en' shard with a low alpha_ratio is "
    "binary junk or markup). Counts via length-delta of a "
    "regexp_replace that stays inside the scan stage; integer sums cast "
    "BIGINT for engine parity, one shuffle on the tiny lang key.",
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import string

    docs = read_parquet_table(spark, sf_dir, "documents")

    # translate() is a plain char-map (no regex engine): deleting the
    # class and diffing lengths counts it ~5× faster than the
    # regexp_replace form the oracle uses — identical semantics because
    # each class is a finite ASCII set
    def cc(chars: str) -> F.Column:
        return F.length("text") - F.length(F.translate("text", chars, ""))

    alpha = string.ascii_letters
    digits = string.digits
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(cc(alpha)).alias("n_alpha"),
        F.sum(cc(digits)).alias("n_digit"),
        F.sum(cc(" ")).alias("n_space"),
        F.sum(
            F.length(F.translate("text", alpha + digits + " ", ""))
        ).alias("n_other"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_alpha",
        "n_digit",
        "n_space",
        "n_other",
        F.round(
            F.col("n_alpha").cast("double")
            / F.nullif(F.col("n_chars"), F.lit(0)),
            6,
        ).alias("alpha_ratio"),
        F.round(
            F.col("n_other").cast("double")
            / F.nullif(F.col("n_chars"), F.lit(0)),
            6,
        ).alias("other_ratio"),
    )


# --- bigram language-model fluency score ----------------------------------


@register(
    "q_bigram_logprob",
    f"""
  WITH __toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks
    FROM documents WHERE trim(text) <> ''
  ),
  __tok AS (
    SELECT doc_id, unnest(toks) AS token FROM __toks
  ),
  __uni AS (
    SELECT token, count(*) AS cn FROM __tok GROUP BY token
  ),
  __v AS (SELECT count(*) AS v FROM __uni),
  __big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i + 1])) AS bg,
           unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1
    FROM __toks WHERE len(toks) >= 2
  ),
  __bc AS (
    SELECT bg, count(*) AS cb FROM __big GROUP BY bg
  )
  SELECT b.doc_id,
         count(*) AS n_bigrams,
         CAST(SUM(CAST(round(
                 ln((bc.cb + 1.0) / (u.cn + v.v)), 6) AS DECIMAL(30,6)))
              AS DOUBLE) / count(*) AS avg_logprob
  FROM __big b
  JOIN __bc bc USING (bg)
  JOIN __uni u ON u.token = b.w1
  CROSS JOIN __v v
  GROUP BY b.doc_id
""",
    doc="Bigram language-model fluency score with add-one smoothing: "
    "train bigram/unigram counts on the corpus itself, score each doc "
    "by mean log P(w_i | w_{i-1}) = ln((c(w1,w2)+1)/(c(w1)+V)) — the "
    "step up from q_unigram_logprob that actually penalizes "
    "word-salad (every unigram frequent, bigrams unseen). Bigrams are "
    "built in-array inside the scan stage (no self-join); the count "
    "join shuffles on the bigram key with map-side partial counts; "
    "per-bigram logprobs are round(·,6) then decimal-summed so "
    "grouped-sum order cannot change the score.",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import spark_dsum

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", tokens_col().alias("toks"))
    )
    tok = toks.select("doc_id", F.explode("toks").alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cn"))
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    big = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), i -> "
                "struct(concat_ws(' ', element_at(toks, i), "
                "element_at(toks, i + 1)) AS bg, "
                "element_at(toks, i) AS w1))"
            )
        ).alias("p"),
    ).select("doc_id", "p.bg", "p.w1")
    bc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        big.join(bc, "bg")
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(v))
    )
    logp = F.round(
        F.log((F.col("cb") + 1.0) / (F.col("cn") + F.col("v"))), 6
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        # round(·,6) terms are 6-decimal exacts — fast contract
        (spark_dsum_fast(logp, 6) / F.count(F.lit(1))).alias("avg_logprob"),
    )
