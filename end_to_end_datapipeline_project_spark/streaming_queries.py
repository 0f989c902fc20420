"""Driver-checkable streaming queries.

The reference has no streaming engine (SURVEY.md §2.10: a 15 s polling
loop, main.py:39-46); this tier is the idiomatic Structured-Streaming
upgrade SURVEY.md §1.3 prescribes.

``q_stream_event_counts`` executes a *real Structured Streaming plan*
(file source → watermark → event-time tumbling window → stateful agg)
with ``Trigger.AvailableNow`` into a memory sink — batch-parity semantics,
so the DuckDB oracle can still check it exactly.

``q_session_window`` uses Spark's native session windows (the streaming
stateful operator) in batch mode; the oracle reproduces the gap-merge
semantics with lag + cumulative-sum.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import graph
from .lineage import cut
from .registry import register
from .schemas import TESTDATA_SCHEMAS
from .sources import read_parquet_table, stage_dir
from .state import maintain
from .streaming import (
    run_stream_to_memory,
    stateful_user_stats,
    windowed_event_counts,
)

#: memory-sink name counter — itertools.count: next() is atomic under
#: the GIL, so concurrent driver threads never mint the same query name
#: (a [0] += 1 list cell is read-modify-write and can collide)
_MEM_SEQ = __import__("itertools").count(1)

#: bump when the staging layout below changes shape (stage_dir's
#: fingerprint covers source DATA, not this code)
_STREAM_STAGE_EPOCH = "v1"


def _stage_table_dir(spark: SparkSession, sf_dir: str, leaf: str,
                     table: str):
    """Landing-dir staging for ANY file-source stream table: content-key
    the stage (uid-suffixed root + parquet mtime/size fingerprint via
    sources.stage_dir — a schema-only key missed in-place data
    regeneration), and symlink the table's parquet in race-safely.
    Returns (stage, schema): the table's declared StructType
    (:data:`schemas.TESTDATA_SCHEMAS`), so staging launches no Spark
    job."""
    import os

    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(TESTDATA_SCHEMAS[table])
    stage = stage_dir(
        "spark_graft_stream", _STREAM_STAGE_EPOCH, sf_dir, leaf
    )
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/{table}.parquet"
    target = f"{sf_dir}/{table}.parquet"
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)
    if not os.path.exists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass  # concurrent process won the exists→symlink race; the
            # content-keyed stage guarantees its target is identical
    return stage, schema


def _delta_stream(
    spark: SparkSession, sf_dir: str, table: str, key: str, *cols: str
) -> DataFrame:
    """File-source stream of ``table``'s delta rows — the ``key % 10 =
    7`` slice the incremental queries ingest — projected to ``cols``
    (all columns when none are named)."""
    stage, schema = _stage_table_dir(spark, sf_dir, table, table)
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col(key) % 10 == 7)
    )
    return stream.select(*cols) if cols else stream


def _stage_events_dir(spark: SparkSession, sf_dir: str, leaf: str):
    """Events staging: the shared table staging plus the session pins
    the ts cast needs.  Returns (stage, schema)."""
    # defensive pinning, mirroring sources.read_parquet_table: the
    # driver contract may hand us any SparkSession, and the ntz->ltz
    # cast shifts instants unless the session is UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return _stage_table_dir(spark, sf_dir, leaf, "events")


def _normalize_ts(stream: DataFrame) -> DataFrame:
    """events.ts is ``timestamp_ntz``; watermarks require TIMESTAMP
    (LTZ).  With the session timezone pinned to UTC the cast is
    value-identical."""
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet (declared schema, ts cast
    to TIMESTAMP by :func:`_normalize_ts`).

    The file source requires a *directory*; stage a symlink dir (the
    landing-zone shape a real deployment would have).
    """
    stage, schema = _stage_events_dir(spark, sf_dir, "events")
    return _normalize_ts(spark.readStream.schema(schema).parquet(stage))


@register(
    "q_stream_event_counts",
    """
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS n_events
  FROM events
  GROUP BY date_trunc('day', ts), event_type
""",
    doc="Structured Streaming: file source → 1-day watermark → event-time "
    "tumbling-window count per type, Trigger.AvailableNow into a memory "
    "sink. Batch-parity execution of a genuinely stateful streaming plan.",
)
def q_stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    counts = windowed_event_counts(stream, "1 day", "1 day")
    return run_stream_to_memory(
        spark, counts, f"stream_event_counts_{next(_MEM_SEQ)}", complete=True
    )


@register(
    "q_session_window",
    """
  WITH __lagged AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
  ),
  __flag AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR ts >= prev_ts + INTERVAL 1 HOUR
                   THEN 1 ELSE 0 END AS new_session
    FROM __lagged
  ),
  __sess AS (
    SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM __flag
  )
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 1 HOUR AS session_end,
         count(*) AS n_events
  FROM __sess
  GROUP BY user_id, session_no
""",
    doc="Native session windows (gap=1h) — Spark's stateful streaming "
    "operator run in batch mode; oracle reproduces gap-merge via "
    "lag+cumsum at full microsecond precision. (Spark starts a new "
    "session when the gap is ≥ the timeout, i.e. merge on strict <.)",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    return (
        df.groupBy("user_id", F.session_window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_stateful_user_stats",
    """
  SELECT user_id, count(*) AS n_events, round(max(value), 6) AS max_value
  FROM events GROUP BY user_id
""",
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running count+max in GroupState, emitted per batch; the "
    "running stats are monotone so max() over emissions == final answer, "
    "making a genuinely stateful Python operator exactly oracle-checkable.",
)
def q_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    stats = stateful_user_stats(stream)
    emitted = run_stream_to_memory(
        spark, stats, f"stateful_user_stats_{next(_MEM_SEQ)}", complete=False
    )
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("max_value"), 6).alias("max_value"),
    )


@register(
    "q_stream_dedup",
    """
  SELECT DISTINCT user_id, event_type FROM events
""",
    doc="Streaming deduplication with bounded state "
    "(dropDuplicatesWithinWatermark): first event per (user_id, "
    "event_type) key survives, and — unlike plain dropDuplicates, whose "
    "state grows forever — keys older than the 1-day watermark are "
    "evicted, so state ∝ keys-per-day, not keys-ever. Output projects "
    "only the key columns (the survivor's other columns are "
    "arrival-order-dependent), making the stateful operator exactly "
    "oracle-checkable as SELECT DISTINCT. Parity regime: the staged "
    "source is ONE file = one micro-batch, so no key recurs after its "
    "state expires; a multi-batch ingestion of this 30-day span under "
    "a 1-day delay would legitimately re-emit expired keys (that IS "
    "the bounded-state semantics) and the DISTINCT oracle would need "
    "a per-eviction-window formulation instead.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_memory(
        spark, deduped, f"stream_dedup_{next(_MEM_SEQ)}", complete=False
    )


@register(
    "q_stream_stream_join",
    """
  SELECT p.event_id AS purchase_id, e.event_id AS error_id,
         p.user_id,
         CAST(floor(epoch(e.ts)) AS BIGINT)
           - CAST(floor(epoch(p.ts)) AS BIGINT) AS lag_sec
  FROM events p JOIN events e
    ON p.user_id = e.user_id
   AND p.event_type = 'purchase' AND e.event_type = 'error'
   AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 1 HOUR
""",
    doc="Stream-stream inner join with event-time range condition and "
    "watermarks on both sides (errors within 1h after each purchase by "
    "the same user). State on each side is bounded by watermark + range "
    "bound; Trigger.AvailableNow makes it batch-parity and oracle-exact.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 day")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") < F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "purchase_id",
        "error_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("e_ts") - F.unix_timestamp("p_ts")).alias("lag_sec"),
    )
    return run_stream_to_memory(
        spark, joined, f"stream_stream_join_{next(_MEM_SEQ)}", complete=False
    )


@register(
    "q_stream_static_join",
    """
  SELECT c.c_mktsegment AS mktsegment,
         count(*) AS n_events,
         count(DISTINCT e.user_id) AS n_users
  FROM events e
  JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY c.c_mktsegment
""",
    doc="Stream-static enrichment join: the event stream joins a static "
    "dimension (customer) read as a plain batch DataFrame — the join "
    "is stateless (each micro-batch probes the dimension, re-read per "
    "batch, so dimension updates are picked up), then a stateful "
    "per-segment aggregate runs in complete mode. This is THE standard "
    "streaming-enrichment topology; at scale the dimension side is "
    "broadcast so the stream never shuffles before aggregation.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    # streaming aggs cannot COUNT(DISTINCT): pre-aggregate per
    # (segment, user) in the stream, finalize the distinct count batch-side
    agg = joined.groupBy(
        F.col("c_mktsegment").alias("mktsegment"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    emitted = run_stream_to_memory(
        spark, agg, f"stream_static_join_{next(_MEM_SEQ)}", complete=True
    )
    return emitted.groupBy("mktsegment").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
    )


def upsert_step(spark: SparkSession, store, batch_df: DataFrame) -> tuple:
    """One micro-batch of q_stream_upsert: the batch merged into the
    stored table by a keyed per-user row_number (latest (ts, event_id)
    wins), so a redelivered row changes nothing."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    merged = store.read(spark, "latest").unionByName(batch_df)
    latest = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return {"latest": latest}, {}


@register(
    "q_stream_upsert",
    """
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT user_id, event_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
""",
    doc="Streaming foreachBatch upsert: every micro-batch is merged "
    "into a keyed per-user table (latest row by a deterministic "
    "(ts, event_id) tiebreak) that each batch replaces — the "
    "CDC-into-serving-table topology. Idempotent under batch replay "
    "(the merge is a keyed row_number, not an append), so exactly-once "
    "end to end with at-least-once delivery. The final table equals "
    "batch SQL's per-user argmax, which is the oracle.",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return maintain(
        stream,
        "q_stream_upsert",
        lambda: ({"latest": spark.createDataFrame([], stream.schema)}, {}),
        upsert_step,
        lambda ss, store: store.read(ss, "latest"),
    )


@register(
    "q_stream_session_window",
    """
  WITH __clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
  ),
  __lagged AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM __clicks
  ),
  __flag AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR ts >= prev_ts + INTERVAL 30 MINUTE
                   THEN 1 ELSE 0 END AS new_session
    FROM __lagged
  ),
  __sess AS (
    SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM __flag
  )
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_clicks
  FROM __sess
  GROUP BY user_id, session_no
""",
    doc="STREAMING session windows: file source → 1-day watermark → "
    "session_window(gap=30 min) per user over click events, "
    "Trigger.AvailableNow into a memory sink (complete mode). This is "
    "Spark's stateful session-*merging* operator actually running in a "
    "streaming plan — state per in-flight session, evicted once the "
    "watermark passes session_end — unlike q_session_window, which "
    "exercises the same operator in batch mode. Oracle reproduces the "
    "gap-merge (new session on gap >= timeout) with lag + cumsum.",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    sessions = (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_clicks",
        )
    )
    return run_stream_to_memory(
        spark, sessions, f"stream_session_window_{next(_MEM_SEQ)}", complete=True
    )


def _events_stream_with_flush(
    spark: SparkSession, sf_dir: str, tag: str
) -> DataFrame:
    """Events file-source stream staged with two far-future sentinel files
    (event_type='__flush__') and maxFilesPerTrigger=1.

    Outer joins / append-mode aggregates only emit unmatched or closed
    state when the watermark passes it, and the watermark computed at the
    end of batch N is applied in batch N+1 — so a single-batch
    AvailableNow run would never flush. The two sentinel micro-batches
    advance the watermark past all real data and then evict with it,
    exactly what a production stream's continuing traffic does.
    """
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    stage, schema = _stage_events_dir(spark, sf_dir, f"events_flush_{tag}")
    # sentinel event types MUST pass the query's own predicates: Catalyst
    # pushes filters below EventTimeWatermark, so a row the filter drops
    # never reaches the watermark tracker (verified empirically) — each
    # sentinel file therefore carries one row per filtered type, with
    # negative user/event ids the query strips from its output.
    sentinel_types = ["purchase", "error"]
    for i, day in ((1, 1), (2, 5)):
        sentinel = f"{stage}/zz_flush_{i}.parquet"
        if not os.path.exists(sentinel):
            n = len(sentinel_types)
            # atomic publish (dot-tmp + rename, landing.save_raw's
            # discipline): a concurrent process's already-running file
            # stream may be LISTING this dir — a half-written sentinel
            # would either crash its read or, worse, be recorded as
            # seen and never re-read, so its watermark never advances
            when = datetime.datetime(2200, 1, day)
            ts_val = pa.array([when] * n, pa.timestamp("us"))
            cols, names = [], []
            for f in schema.fields:
                names.append(f.name)
                if f.name == "ts":
                    cols.append(ts_val)
                elif f.name == "event_type":
                    cols.append(pa.array(sentinel_types, pa.string()))
                elif f.dataType.typeName() in ("long", "bigint"):
                    cols.append(
                        pa.array(range(-1, -n - 1, -1), pa.int64())
                    )
                elif f.dataType.typeName() == "double":
                    cols.append(pa.array([0.0] * n, pa.float64()))
                else:
                    cols.append(pa.array(["__flush__"] * n, pa.string()))
            tmp = f"{stage}/.zz_flush_{i}.{os.getpid()}.tmp"
            pq.write_table(pa.table(cols, names=names), tmp)
            os.utime(tmp, (4102444800 + i, 4102444800 + i))
            os.replace(tmp, sentinel)
        else:
            os.utime(sentinel, (4102444800 + i, 4102444800 + i))
    return _normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


@register(
    "q_stream_left_outer",
    """
  SELECT p.event_id AS purchase_id, e.event_id AS error_id,
         p.user_id,
         CAST(floor(epoch(e.ts)) AS BIGINT)
           - CAST(floor(epoch(p.ts)) AS BIGINT) AS lag_sec
  FROM events p LEFT JOIN events e
    ON p.user_id = e.user_id
   AND e.event_type = 'error'
   AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 1 HOUR
  WHERE p.event_type = 'purchase'
""",
    doc="Stream-stream LEFT OUTER join under watermarks (purchases with "
    "their errors within 1h, or NULL if none): unmatched left rows are "
    "held in state and emitted with NULLs only once the watermark "
    "passes their join window — the sentinel micro-batches in the "
    "staged source advance the watermark past all real data, which is "
    "what live traffic does in production. State on both sides stays "
    "bounded by watermark + range condition; batch oracle = plain "
    "LEFT JOIN.",
)
def q_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_with_flush(spark, sf_dir, "left_outer")
    purchases = (
        src.withWatermark("ts", "1 day")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    errors = (
        _events_stream_with_flush(spark, sf_dir, "left_outer")
        .withWatermark("ts", "1 day")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") < F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "purchase_id",
        "error_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("e_ts") - F.unix_timestamp("p_ts")).alias("lag_sec"),
    )
    result = run_stream_to_memory(
        spark, joined, f"stream_left_outer_{next(_MEM_SEQ)}", complete=False
    )
    # strip the watermark-flush sentinels (negative ids, see
    # _events_stream_with_flush)
    return result.filter(F.col("purchase_id") >= 0)


@register(
    "q_stream_geofence",
    """
  WITH __pos AS (
    SELECT user_id, event_id, ts,
           52.0 + (value - floor(value)) * 0.4 AS lat,
           20.5 + (value * 7 - floor(value * 7)) AS lon
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      AND event_id IS NOT NULL
  ),
  __inout AS (
    SELECT user_id, event_id, ts,
           (lat BETWEEN 52.15 AND 52.25 AND lon BETWEEN 20.9 AND 21.1)
             AS inside,
           lag((lat BETWEEN 52.15 AND 52.25 AND lon BETWEEN 20.9 AND 21.1))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM __pos
  )
  SELECT user_id, event_id, ts,
         CASE WHEN inside THEN 'enter' ELSE 'exit' END AS transition
  FROM __inout WHERE prev IS NOT NULL AND inside <> prev
""",
    doc="Streaming geofence alerting (applyInPandasWithState): the batch "
    "q_geofence_transitions run as a live stateful operator — one "
    "in/out int per vehicle in GroupState, only state changes emitted "
    "across micro-batches.  The oracle is the batch lag-window form, "
    "exact because the carried state makes batch boundaries seamless.",
)
def q_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import geofence_transitions_stream

    stream = _events_stream(spark, sf_dir).dropna(
        subset=["user_id", "event_id"]
    )
    trans = geofence_transitions_stream(stream)
    return run_stream_to_memory(
        spark, trans, f"stream_geofence_{next(_MEM_SEQ)}", complete=False
    )


@register(
    "q_stream_media_decode",
    """
  WITH f AS (
    SELECT doc_id,
           CASE doc_id % 7
                WHEN 0 THEN 'ppm'
                WHEN 1 THEN CASE WHEN doc_id % 4 = 2
                                 THEN 'avif' ELSE 'webp' END
                WHEN 2 THEN 'tiff' WHEN 3 THEN 'mp3' WHEN 4 THEN 'flac'
                WHEN 5 THEN 'wav' ELSE 'gif' END AS media_format,
           CASE WHEN doc_id % 7 IN (0, 1, 2, 6)
                THEN 16 + doc_id % 48 END AS w,
           CASE doc_id % 7
                WHEN 3 THEN floor((8 + doc_id % 16) * 1152 * 1000.0 / 44100)
                WHEN 4 THEN floor(1000 * (1 + doc_id % 90) * 1000.0 / 44100)
                WHEN 5 THEN floor(160 * (1 + doc_id % 10) * 1000.0 / 8000)
           END AS dur
    FROM documents
  )
  SELECT media_format,
         count(*) AS n_assets,
         CAST(sum(w) AS BIGINT) AS sum_width,
         CAST(sum(dur) AS BIGINT) AS sum_duration_ms
  FROM f GROUP BY media_format
""",
    doc="Structured Streaming THROUGH the real media decoders: a "
    "file-source stream of documents is forged into spec-valid "
    "payloads (mapInPandas) and pushed through the SAME decode_media "
    "Arrow kernel the batch path uses — two chained Python kernels "
    "running inside micro-batches — then aggregated per DECODED format "
    "in complete mode (availableNow trigger, memory sink).  The oracle "
    "recomputes counts/width/duration sums from the closed forms, so "
    "the streaming execution of the decode surface is driver-verified. "
    "Scale shape: kernels are stateless per-batch (no state store); "
    "the only stateful operator is the final O(formats) aggregate.",
)
def q_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_ops.multimodal import (
        MEDIA_FORGE_SCHEMA,
        decode_media,
        forge_media_kernel,
    )

    stage, schema = _stage_table_dir(spark, sf_dir, "documents", "documents")
    stream = spark.readStream.schema(schema).parquet(stage).select("doc_id")
    media = stream.mapInPandas(forge_media_kernel, MEDIA_FORGE_SCHEMA)
    agg = (
        decode_media(media)
        .groupBy(F.col("format").alias("media_format"))
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("width").alias("sum_width"),
            F.sum("duration_ms").alias("sum_duration_ms"),
        )
    )
    return run_stream_to_memory(
        spark, agg, f"stream_media_decode_{next(_MEM_SEQ)}", complete=True
    )


def _incremental_minhash_sql():
    from .llm_ops.dedup import INCREMENTAL_MINHASH_SQL

    return INCREMENTAL_MINHASH_SQL


def incremental_embedding_stream(
    delta_stream: DataFrame, vecs: DataFrame
) -> DataFrame:
    """The streaming embedding ingest near-dup pipeline: ``delta_stream``
    is a streaming raw-embeddings DataFrame of arriving vectors, ``vecs``
    the static normalized corpus.  Returns the streaming
    (vec_a, vec_b, cosine) result — caller picks the sink.  Mirrors
    :func:`incremental_minhash_stream` in angle space."""
    from .llm_ops.similarity import (
        _RHP_DIM,
        _rhp_band_rows,
        normalize_embeddings,
        rhp_band_index,
        verify_cosine_pairs,
    )

    idx = rhp_band_index(vecs)
    sv = normalize_embeddings(delta_stream).filter(
        F.size("v") == _RHP_DIM
    )
    # in-batch band signatures (row-level projection), then the cap
    # semi-join against the stored index
    s_bands = _rhp_band_rows(sv).join(
        idx, ["vec_id", "band", "sig"], "left_semi"
    )
    cand = (
        s_bands.select(F.col("vec_id").alias("d_id"), "band", "sig")
        .join(
            idx.select(F.col("vec_id").alias("i_id"), "band", "sig"),
            ["band", "sig"],
        )
        .filter(F.col("i_id") != F.col("d_id"))
        .select(
            F.least("d_id", "i_id").alias("vec_a"),
            F.greatest("d_id", "i_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return verify_cosine_pairs(vecs, cand)


def incremental_minhash_stream(
    delta_stream: DataFrame, docs: DataFrame
) -> DataFrame:
    """The streaming ingest near-dup pipeline: ``delta_stream`` is a
    streaming (doc_id, text) DataFrame of arriving documents, ``docs``
    the static corpus.  Returns the streaming (doc_a, doc_b, jaccard)
    result — caller picks the sink.  Factored so tests can drive it
    with an explicitly multi-file source (maxFilesPerTrigger=1) and pin
    cross-micro-batch behavior."""
    from .llm_ops.dedup import (
        checkpoint_arrs_with_bytes,
        minhash_index,
        minhash_signatures,
        pin_parallelism,
        shingle_arrays,
        verify_candidates,
    )

    # static side: corpus shingle arrays + the capped signature index
    # (the verify size gate's stats ride the checkpoint job — r16)
    docs = pin_parallelism(docs, "doc_id")
    arrs, nbytes = checkpoint_arrs_with_bytes(shingle_arrays(docs))
    idx = minhash_index(arrs)

    # stream side: in-batch signatures → cap semi-join → probe join
    s_sig = minhash_signatures(shingle_arrays(delta_stream)).join(
        idx, ["doc_id", "seed", "minhash"], "left_semi"
    )
    cand = (
        s_sig.select(F.col("doc_id").alias("d_id"), "seed", "minhash")
        .join(
            idx.select(F.col("doc_id").alias("i_id"), "seed", "minhash"),
            ["seed", "minhash"],
        )
        .filter(F.col("i_id") != F.col("d_id"))
        .select(
            F.least("d_id", "i_id").alias("doc_a"),
            F.greatest("d_id", "i_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return verify_candidates(arrs, cand, arr_bytes=nbytes)


@register(
    "q_stream_incremental_minhash",
    _incremental_minhash_sql(),
    doc="Streaming ingest near-dup gate: delta documents (doc_id % 10 "
    "= 7) arrive as a file-source stream, minhash signatures are "
    "computed INSIDE each micro-batch (pure row-level expressions — no "
    "state), the bucket-occupancy cap is enforced by a stream-static "
    "LEFT SEMI join against the stored capped index, candidates come "
    "from a stream-static probe join on (seed, minhash), cross-batch "
    "pair dedup is the streaming dropDuplicates state store, and "
    "exact-Jaccard verify joins the static shingle arrays — append "
    "mode, availableNow. Output is pinned EXACTLY equal to batch "
    "q_incremental_minhash (same oracle; pytest splits the corpus "
    "across micro-batches to prove the dedup state carries). Scale "
    "shape: per-ingest work scales with the delta, the index is a "
    "broadcast-or-bucketed static table, and the only unbounded state "
    "is the emitted-pair dedup — production would scope it with "
    "dropDuplicatesWithinWatermark on ingest time.",
)
def q_stream_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    stream = _delta_stream(
        spark, sf_dir, "documents", "doc_id", "doc_id", "text"
    )
    out = incremental_minhash_stream(stream, docs)
    return run_stream_to_memory(
        spark,
        out,
        f"stream_incremental_minhash_{next(_MEM_SEQ)}",
        complete=False,
    )


def _incremental_embedding_sql() -> str:
    from .llm_ops.similarity import INCREMENTAL_EMBEDDING_SQL

    return INCREMENTAL_EMBEDDING_SQL


@register(
    "q_stream_incremental_embedding_neardup",
    _incremental_embedding_sql(),
    doc="Streaming embedding ingest near-dup gate: delta vectors arrive "
    "as a file-source stream, band signatures are computed inside each "
    "micro-batch (one row-level projection — no state), the bucket cap "
    "is enforced by a stream-static LEFT SEMI join against the stored "
    "band index, candidates come from a stream-static probe join on "
    "(band, sig), cross-batch pair dedup is the streaming "
    "dropDuplicates state store, and exact-cosine verify joins the "
    "static vectors — append mode, availableNow. Pinned EXACTLY equal "
    "to batch q_incremental_embedding_neardup (same oracle; pytest "
    "splits the vectors across micro-batches). The angle-space twin of "
    "q_stream_incremental_minhash, completing streaming coverage of "
    "the dedupe-on-ingest family across both modalities.",
)
def q_stream_incremental_embedding_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .llm_ops.similarity import vectors

    vecs = vectors(spark, sf_dir)
    stream = _delta_stream(spark, sf_dir, "embeddings", "vec_id")
    out = incremental_embedding_stream(stream, vecs)
    return run_stream_to_memory(
        spark,
        out,
        f"stream_incremental_embedding_{next(_MEM_SEQ)}",
        complete=False,
    )


def tfidf_seed(spark: SparkSession, tf_base: DataFrame) -> tuple:
    """Commit 0 of the TF-IDF twin: empty ``tf`` and ``ids`` append
    tables, so the publish reads state even when no batch fires."""
    return {}, {
        "tf": spark.createDataFrame([], tf_base.schema),
        "ids": spark.createDataFrame([], tf_base.select("doc_id").schema),
    }


def tfidf_step(spark: SparkSession, store, batch_df: DataFrame) -> tuple:
    """One micro-batch of TF-IDF upkeep: tokenize ONLY the batch and
    append its per-doc tf rows and its doc ids (which carry zero-token
    docs' contribution to N) as segments."""
    from .llm_ops.text import tf_rows

    return {}, {"tf": tf_rows(batch_df), "ids": batch_df.select("doc_id")}


def tfidf_publish(
    base: DataFrame, tf_base: DataFrame, spark: SparkSession, store
) -> DataFrame:
    """The whole corpus re-scored under the moved idf
    (:func:`text.merge_and_rescore_tfidf`, the batch kernel).  A doc's
    tf rows are a pure function of its text, so deduplicating on read
    counts a doc delivered in two batches once."""
    from .llm_ops.text import merge_and_rescore_tfidf

    tf_delta = store.read(spark, "tf").dropDuplicates(["doc_id", "term"])
    n_delta = (
        store.read(spark, "ids")
        .dropDuplicates(["doc_id"])
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    return merge_and_rescore_tfidf(base, tf_base, tf_delta, n_delta)


def incremental_tfidf_stream(
    spark: SparkSession, delta_stream: DataFrame, base: DataFrame
) -> DataFrame:
    """The streaming TF-IDF ingest pipeline: ``delta_stream`` is a
    streaming (doc_id, text) DataFrame of arriving documents, ``base``
    the static pre-ingest corpus.  :func:`state.maintain` appends each
    micro-batch's tf rows and doc ids (:func:`tfidf_step`); after the
    stream drains, one additive stat merge + broadcast re-score
    (:func:`tfidf_publish`) prices the WHOLE corpus under the moved
    idf.  Per-ingest work is the delta tokenize and an O(delta)
    segment, never a corpus re-tokenize or a rewrite of earlier
    batches."""
    from .llm_ops.text import tf_rows

    tf_base = cut(tf_rows(base), "incremental_tfidf_stream.tf_base")
    return maintain(
        delta_stream,
        "incremental_tfidf_stream",
        partial(tfidf_seed, spark, tf_base),
        tfidf_step,
        partial(tfidf_publish, base, tf_base),
    )


def _tfidf_sql() -> str:
    from .llm_ops.text import TFIDF_SQL

    return TFIDF_SQL


@register(
    "q_stream_incremental_tfidf",
    _tfidf_sql(),
    doc="Streaming TF-IDF ingest gate: delta documents (doc_id % 10 = "
    "7) arrive as a file-source stream; each micro-batch tokenizes "
    "only itself and appends its immutable per-doc tf rows + doc ids "
    "as StateStore segments (state.maintain, deduplicated on read), "
    "then one additive df/N merge + broadcast "
    "re-score — the exact batch q_incremental_tfidf kernel — prices "
    "the whole corpus under the moved idf. ORACLE is the full TF-IDF "
    "rebuild, so the gate proves streamed maintenance ≡ rebuild; "
    "pytest splits the delta across ≥3 micro-batches to prove the "
    "accumulated state carries. Completes the r11 pattern that every "
    "incremental batch path has a streaming twin "
    "(q_stream_incremental_minhash / _embedding_neardup).",
)
def q_stream_incremental_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    base = docs.filter(~(F.col("doc_id") % 10 == 7))
    stream = _delta_stream(
        spark, sf_dir, "documents", "doc_id", "doc_id", "text"
    )
    return incremental_tfidf_stream(spark, stream, base)


@register(
    "q_stream_compression_ratio",
    None,  # rows-only like its batch twin q_compression_ratio:
    # zlib/DEFLATE has no SQL expression for DuckDB, so there is no
    # oracle; instead pytest asserts the streaming output EQUALS the
    # batch query's aggregate on the same corpus (identical kernel,
    # identical zlib build — tests/test_streaming_queries.py)
    doc="Structured Streaming THROUGH the zlib compression-ratio "
    "kernel: a file-source stream of documents runs the SAME "
    "module-level mapInPandas kernel as batch q_compression_ratio "
    "inside micro-batches, then aggregates per keep-flag in complete "
    "mode (availableNow trigger, memory sink).  Proves the round-7 "
    "kernel composes with the streaming tier like the media kernels. "
    "Scale shape: the kernel is stateless per-batch (no state store); "
    "the only stateful operator is the final 2-row keep/drop "
    "aggregate; ratio sums are decimal-exact over round(·,6) terms so "
    "the result is independent of micro-batch partitioning.",
)
def q_stream_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_ops.clean import (
        COMPRESSION_RATIO_SCHEMA,
        compression_ratio_kernel,
    )
    from .registry import spark_dsum_fast

    stage, schema = _stage_table_dir(spark, sf_dir, "documents", "documents")
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .select("doc_id", "text")
    )
    scored = stream.mapInPandas(
        compression_ratio_kernel, COMPRESSION_RATIO_SCHEMA
    )
    agg = scored.groupBy("keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.round(spark_dsum_fast(F.col("zlib_ratio"), 6), 6).alias(
            "sum_ratio"
        ),
    )
    return run_stream_to_memory(
        spark,
        agg,
        f"stream_compression_ratio_{next(_MEM_SEQ)}",
        complete=True,
    )


# --- streaming twins of the graph incremental family (VERDICT r12 #5) ------


#: the PageRank twin's bucketed append tables
PAGERANK_LAYOUT = {"adj": ["__bkt"], "roster": ["__bkt"]}


def _pagerank_tables(outdeg, levels, half, ps) -> tuple:
    return (
        {"outdeg": outdeg, **{f"level_{k}": v for k, v in enumerate(levels)}},
        {
            "adj": graph.adj_rows(half),
            "roster": graph.bucketed(ps, "l_partkey"),
        },
    )


def pagerank_seed(base_li: DataFrame) -> tuple:
    """Commit 0 of the PageRank twin: the base graph's degree table and
    rank levels (:func:`graph.pagerank_seed_levels`, the batch query's
    seed), its adjacency and its (part, supplier) roster."""
    base_half = graph._co_supply_half(base_li)
    levels, outdeg = graph.pagerank_seed_levels(base_half)
    base_ps = base_li.select("l_partkey", "l_suppkey").distinct()
    return _pagerank_tables(outdeg, levels, base_half, base_ps)


def pagerank_step(spark: SparkSession, store, batch_df: DataFrame) -> tuple:
    """One micro-batch of PageRank upkeep: the batch's NEW co-supply
    edges from its (part, supplier) pairs against the stored roster
    PRUNED to the batch's parts (:func:`graph.co_supply_new_edges` —
    never a full-graph rescan), then :func:`graph.pagerank_patch_levels`,
    the exact batch patch kernel, which re-ranks only the blast radius
    through pruned scans of the bucketed adjacency.  Adjacency and
    roster gain one O(delta) segment; degrees and rank levels are O(V)
    replacements."""
    bps = cut(
        batch_df.select("l_partkey", "l_suppkey").distinct(),
        "incremental_pagerank_stream.bps",
    )
    roster_sc = graph.read_pruned(
        spark,
        store.dirs("roster"),
        bps.select("l_partkey").distinct(),
        "l_partkey long, l_suppkey long",
    )
    adj_dirs = store.dirs("adj")
    new_ps, new_half = graph.co_supply_new_edges(
        spark, adj_dirs, roster_sc, bps
    )
    levels = [store.read(spark, f"level_{k}") for k in range(graph.PR_ITERS)]
    patched, outdeg = graph.pagerank_patch_levels(
        spark, adj_dirs, store.read(spark, "outdeg"), levels, new_half
    )
    return _pagerank_tables(outdeg, patched, new_half, new_ps)


def pagerank_publish(
    base_li: DataFrame, spark: SparkSession, store
) -> DataFrame:
    roster = store.read(spark, "roster")
    return graph._pr_result(
        base_li.select("l_suppkey").unionByName(roster.select("l_suppkey")),
        store.read(spark, f"level_{graph.PR_ITERS - 1}"),
    )


def incremental_pagerank_stream(
    spark: SparkSession, delta_stream: DataFrame, base_li: DataFrame
) -> DataFrame:
    """Streaming incremental-PageRank maintenance: delta lineitem rows
    arrive as micro-batches and :func:`state.maintain` applies
    :func:`pagerank_step` to each.  Seeded with
    :func:`graph.pagerank_seed_levels`, the seed the batch query uses,
    so every level vector along the way is bit-identical to a full
    rebuild on the graph seen so far."""
    return maintain(
        delta_stream,
        "incremental_pagerank_stream",
        partial(pagerank_seed, base_li),
        pagerank_step,
        partial(pagerank_publish, base_li),
        PAGERANK_LAYOUT,
    )


@register(
    "q_stream_incremental_pagerank",
    graph.PAGERANK_SQL,
    doc="Streaming PageRank ingest gate: delta lineitem rows "
    "(l_orderkey % 10 = 7) arrive as a file-source stream; each "
    "micro-batch derives its NEW co-supply edges from the pair roster "
    "PRUNED to its parts, re-ranks ONLY the blast radius via the "
    "exact batch patch kernel (graph.pagerank_patch_levels — r14: "
    "partition-pruned scans of bucketed adjacency segments, "
    "incrementally-merged degrees), and commits roster/adjacency "
    "appends + degree/rank replacements ATOMICALLY through one "
    "StateStore manifest flip — foreachBatch, availableNow, "
    "replay-idempotent by watermark. ORACLE is the full 3-iteration rebuild "
    "(q_pagerank's SQL), so the gate proves per-batch maintenance ≡ "
    "rebuild through the same decimal message kernel; pytest splits "
    "the delta across ≥3 micro-batches and pins ≡ batch "
    "q_incremental_pagerank. Completes the pattern that every "
    "incremental batch path has a streaming twin, now including the "
    "costliest (graph) family.",
)
def q_stream_incremental_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    base_li = li.filter(~(F.col("l_orderkey") % 10 == 7))
    stream = _delta_stream(
        spark, sf_dir, "lineitem", "l_orderkey", "l_partkey", "l_suppkey"
    )
    return incremental_pagerank_stream(spark, stream, base_li)


#: the LPA twin's bucketed append tables
LPA_LAYOUT = {"op": ["__bkt"], "weights": ["__bkt"], "adj": ["__bkt"]}


def _lpa_tables(l1, l2, op, weights, half) -> tuple:
    return (
        {"l1": l1, "l2": l2},
        {
            "op": graph.bucketed(op, "l_orderkey"),
            "weights": graph.bucketed(weights, "src", "dst"),
            "adj": graph.adj_rows(half),
        },
    )


def lpa_seed(base_li: DataFrame) -> tuple:
    """Commit 0 of the LPA twin: the base graph's two label levels
    (:func:`graph.lpa_seed_levels`, the batch query's seed), its
    (order, part) roster, raw pair weights and adjacency."""
    w0, base_half = graph.co_order_weights(base_li)
    l1, l2 = graph.lpa_seed_levels(base_half)
    base_op = base_li.select("l_orderkey", "l_partkey").distinct()
    return _lpa_tables(l1, l2, base_op, w0, base_half)


def lpa_step(spark: SparkSession, store, batch_df: DataFrame) -> tuple:
    """One micro-batch of label-propagation upkeep.  NEW roster rows
    come from an anti-join against the roster pruned to the batch's
    ORDERS (micro-batches may split an order); pair-count increments
    are new-part × same-order-partner pairs, each counted once, in the
    batch where its SECOND part lands; floor crossings read only the
    increments' weight buckets (:func:`graph.co_order_new_edges`); and
    :func:`graph.lpa_patch_levels` re-votes only the 1-hop blast radius
    through partition-pruned adjacency scans.  Counts are additive, so
    each batch appends only its own increments."""
    bop = cut(
        batch_df.select("l_orderkey", "l_partkey").distinct(),
        "incremental_lpa_stream.bop",
    )
    op_sc = graph.read_pruned(
        spark,
        store.dirs("op"),
        bop.select("l_orderkey").distinct(),
        "l_orderkey long, l_partkey long",
    )
    new_op = cut(
        bop.join(op_sc, ["l_orderkey", "l_partkey"], "left_anti"),
        "incremental_lpa_stream.new_op",
    )
    partners = op_sc.unionByName(new_op)
    dw = cut(
        new_op.alias("a")
        .join(
            partners.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_orderkey").alias("o"),
            F.least("a.l_partkey", "b.l_partkey").alias("src"),
            F.greatest("a.l_partkey", "b.l_partkey").alias("dst"),
        )
        .dropDuplicates(["o", "src", "dst"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_co")),
        "incremental_lpa_stream.dw",
    )
    new_half = graph.co_order_new_edges(spark, store.dirs("weights"), dw)
    l1, l2 = graph.lpa_patch_levels(
        spark,
        store.dirs("adj"),
        store.read(spark, "l1"),
        store.read(spark, "l2"),
        new_half,
    )
    return _lpa_tables(l1, l2, new_op, dw, new_half)


def lpa_publish(base_li: DataFrame, spark: SparkSession, store) -> DataFrame:
    roster = store.read(spark, "op")
    return graph._lpa_result(
        base_li.select("l_partkey").unionByName(roster.select("l_partkey")),
        store.read(spark, "l2"),
    )


def incremental_lpa_stream(
    spark: SparkSession, delta_stream: DataFrame, base_li: DataFrame
) -> DataFrame:
    """Streaming incremental label-propagation — the integer twin of
    :func:`incremental_pagerank_stream`, maintained by
    :func:`state.maintain` with :func:`lpa_step`.  Stored state: the
    (l_orderkey, l_partkey) roster as order-bucketed append segments,
    the RAW pair-weight table as pair-bucketed append segments, the
    directed adjacency as src-bucketed append segments, and both O(V)
    label vectors as replacements.  Summed segment weights equal the
    merged corpus counts, so each commit equals the batch kernel's
    derivation from the rows seen so far."""
    return maintain(
        delta_stream,
        "incremental_lpa_stream",
        partial(lpa_seed, base_li),
        lpa_step,
        partial(lpa_publish, base_li),
        LPA_LAYOUT,
    )


@register(
    "q_stream_incremental_label_propagation",
    graph.LABEL_PROPAGATION_SQL,
    doc="Streaming label-propagation ingest gate, the integer twin of "
    "q_stream_incremental_pagerank: delta lineitem rows arrive as a "
    "file-source stream; each micro-batch appends its NEW (order, "
    "part) rows and its own pair-count increments as bucketed "
    "segments (counts from disjoint deliveries are additive; a pair "
    "is counted when its second part arrives, so order rows split "
    "across batches stay exact), detects ≥2-floor crossings by "
    "reading ONLY the increments' weight buckets, re-votes the 1-hop "
    "blast radius via the exact batch patch kernel "
    "(graph.lpa_patch_levels, r14 partition-pruned scans), and "
    "commits all state through one atomic StateStore manifest flip. "
    "ORACLE is the full 2-iteration rebuild "
    "(q_label_propagation's SQL); pytest splits the delta across ≥3 "
    "micro-batches and pins ≡ batch q_incremental_label_propagation.",
)
def q_stream_incremental_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    base_li = li.filter(~(F.col("l_orderkey") % 10 == 7))
    stream = _delta_stream(
        spark, sf_dir, "lineitem", "l_orderkey", "l_orderkey", "l_partkey"
    )
    return incremental_lpa_stream(spark, stream, base_li)


def _lsh_tables(groups, index, spill, labels, digests) -> tuple:
    return (
        {"groups": groups, "index": index, "spill": spill, "labels": labels},
        {"digests": digests},
    )


def lsh_clusters_seed(base_docs: DataFrame) -> tuple:
    """Commit 0 of the LSH cluster twin: the batch kernel's stored state
    for the base corpus (:func:`dedup.lsh_seed_state`)."""
    from .llm_ops.dedup import lsh_seed_state

    digests, groups, index, spill, labels = lsh_seed_state(base_docs)
    return _lsh_tables(groups, index, spill, labels, digests)


def lsh_clusters_step(
    spark: SparkSession, store, batch_df: DataFrame
) -> tuple:
    """One micro-batch of LSH cluster upkeep: :func:`dedup.
    lsh_maintenance_step`, the kernel the batch query runs, over the
    stored digests, groups, capped index, spill and labels.  The step
    drops docs already applied and appends the rest to the digest
    roster; groups, index, spill and labels are O(reps) replacements."""
    from .llm_ops.dedup import fingerprint_col, lsh_maintenance_step

    batch = batch_df.select(
        "doc_id", fingerprint_col().alias("fp"), "text"
    ).dropDuplicates(["doc_id"])
    _d, groups, index, spill, labels, applied = lsh_maintenance_step(
        *[
            store.read(spark, t)
            for t in ("digests", "groups", "index", "spill", "labels")
        ],
        batch,
    )
    return _lsh_tables(groups, index, spill, labels, applied)


def lsh_clusters_publish(spark: SparkSession, store) -> DataFrame:
    from .llm_ops.dedup import _reattach

    return _reattach(
        store.read(spark, "digests"),
        store.read(spark, "groups"),
        store.read(spark, "labels"),
    )


def incremental_minhash_clusters_stream(
    spark: SparkSession, delta_stream: DataFrame, base_docs: DataFrame
) -> DataFrame:
    """Streaming LSH cluster maintenance — the flagship incremental
    path run ONCE PER MICRO-BATCH against parquet-backed stored state
    (:func:`state.maintain`).  The per-ingest step IS the batch query's
    kernel (:func:`lsh_clusters_step`), so correctness fixes land
    exactly once, including the spill-re-entry guard: the stored state
    carries the capped index's SPILL side table, and an exact-duplicate
    batch doc that relabels a spilled rep to a smaller id re-enters the
    re-cap exactly as the rebuild would."""
    return maintain(
        delta_stream,
        "incremental_minhash_clusters_stream",
        partial(lsh_clusters_seed, base_docs),
        lsh_clusters_step,
        lsh_clusters_publish,
    )


def _minhash_clusters_sql() -> str:
    from .llm_ops.dedup import MINHASH_CLUSTERS_SQL

    return MINHASH_CLUSTERS_SQL


@register(
    "q_stream_incremental_minhash_clusters",
    _minhash_clusters_sql(),
    doc="Streaming LSH cluster-maintenance gate — the flagship "
    "incremental path run per micro-batch: delta documents "
    "(doc_id % 10 = 7) arrive as a file-source stream; each batch "
    "relabels fingerprint groups whose minimum moved (pure label "
    "substitution), signs ONLY novel texts against the stored capped "
    "index (monotone re-cap), contract-and-expands CC on the novel "
    "blast radius, and takes the r13 SCOPED recluster when a stored "
    "row is evicted — all against parquet-backed stored state "
    "(digests, group texts, capped index, rep labels) seeded from the "
    "base corpus. ORACLE is the full rebuild (q_minhash_clusters' "
    "SQL); exactness composes by induction (each batch's stored state "
    "equals the batch kernel's derivation from the corpus seen so "
    "far). pytest splits the delta across ≥3 micro-batches and pins "
    "≡ batch q_incremental_minhash_clusters, plus a cap-2 corner "
    "where the scoped fallback fires mid-stream.",
)
def q_stream_incremental_minhash_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    base = docs.filter(~(F.col("doc_id") % 10 == 7)).select("doc_id", "text")
    stream = _delta_stream(
        spark, sf_dir, "documents", "doc_id", "doc_id", "text"
    )
    return incremental_minhash_clusters_stream(spark, stream, base)
