"""Registered streaming queries (SURVEY.md §2.8 T1-T10, §2.3 J9/J10).

Each callable executes a genuinely *streaming* pipeline (readStream →
transform → ``sources.run_stream`` sink with checkpoint) to completion
under Trigger.AvailableNow, then returns the materialized result so the
driver harness can compare it. Queries whose streaming semantics are
prefix-complete (complete-mode aggregation, inner joins, dedup over a
fully-replayed bounded stream) carry a DuckDB oracle — the
stream-batch equivalence property from the Structured Streaming model
(/root/repo/PAPERS.md:7); watermark-dependent append-mode results are
rows-only (late-data drops are the *point* of those operators).

Scale notes: every stateful operator here keys its state (window ×
group key, event_id, user_id), so state shards across executors with
the shuffle; watermarks bound state size — the unbounded-dedup and
unwatermarked-aggregation variants are deliberately absent from the
production path (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkstreaming_mq_spark.registry import query
from sparkstreaming_mq_spark.streaming.sources import (
    read_docs_stream_chunked,
    read_events_stream,
    read_events_stream_chunked,
    run_stream,
)
from sparkstreaming_mq_spark.tables import load_table


# --- S1 + T9: file-replay source, passthrough completeness -------------------

@query(
    "s1_stream_replay",
    oracle="""
SELECT event_id, user_id, event_type, round(value, 4) AS value,
       date_trunc('second', ts) AS ts_s
FROM events
""",
)
def s1_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQ-source substitute: replay the full events stream through the
    file source and deliver every envelope record exactly once
    (append mode, AvailableNow trigger, checkpointed offsets). The
    oracle proves no message is lost or duplicated."""
    stream = read_events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.date_trunc("second", "ts").alias("ts_s"),
    )
    return spark.table(run_stream(stream, "memory", "append").name)


# --- T2: tumbling window aggregation (complete mode → prefix-complete) -------

@query(
    "t2_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY win_start, event_type
""",
)
def t2_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type, complete
    output mode over a multi-micro-batch replay — equals the batch
    aggregation (stream-batch equivalence).

    n_chunks=2 (r6, measured): the complete-mode result is
    chunk-count independent, and per-micro-batch fixed overhead
    (state-store open/commit + memory-sink rewrite) dominates at
    bench scale — warm sf0.1 medians: 4 chunks 2.3 s, 2 chunks 1.05 s,
    with cross-batch state merge still exercised. Queries whose
    oracles ENCODE chunk mechanics (t6/t8/t10/t14/t15/t16) keep their
    own pinned counts."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=2, order="time")
    # fixed-point cents (f10 pattern): the state store merges partial
    # sums in state-merge order, DuckDB in scan order — a float sum
    # rounded at a .005 boundary is a probabilistic cross-engine hash
    # break; floor(v*100+0.5) BIGINT accumulation is exact on both.
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("total_cents")
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n", "total_cents"
    )


# --- T3: sliding window aggregation ------------------------------------------

@query(
    "t3_stream_sliding",
    oracle="""
SELECT ws AS win_start, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
  FROM events
)
GROUP BY ws, event_type
""",
)
def t3_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h size, 1h slide): every event lands in two
    overlapping windows; complete mode, equals the batch expansion."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = stream.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(F.col("window.start").alias("win_start"), "event_type", "n")


# --- T2+T3 combined (driver-slot query) ---------------------------------------

@query(
    "t2_stream_windows",
    oracle="""
SELECT 'tumbling' AS mode, date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY win_start, event_type
UNION ALL
SELECT 'sliding' AS mode, ws AS win_start, event_type,
       count(*) AS n, CAST(NULL AS BIGINT) AS total_cents
FROM (
  SELECT event_type,
         unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
  FROM events
)
GROUP BY ws, event_type
""",
)
def t2_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-slot representative for windowed streaming aggregation:
    tumbling 1-hour windows (T2) and overlapping 2h/1h sliding windows
    (T3) per event type, each a complete-mode aggregation over the
    same multi-micro-batch replay, tagged and unioned. Complete mode
    over a full replay is prefix-complete → equals the batch
    expansion (stream-batch equivalence), hence the SQL oracle. State
    is keyed by (window × event_type) so it shards with the shuffle."""
    tumb_stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    # fixed-point cents on the tumbling sum — see t2_stream_tumbling
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    tumb_agg = tumb_stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("total_cents")
    )
    tumb = spark.table(run_stream(tumb_agg, "memory", "complete").name).select(
        F.lit("tumbling").alias("mode"),
        F.col("window.start").alias("win_start"),
        "event_type",
        "n",
        "total_cents",
    )
    slide_stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    slide_agg = slide_stream.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    slide = spark.table(run_stream(slide_agg, "memory", "complete").name).select(
        F.lit("sliding").alias("mode"),
        F.col("window.start").alias("win_start"),
        "event_type",
        "n",
        F.lit(None).cast("long").alias("total_cents"),
    )
    return tumb.unionByName(slide)


# --- T1 + T6: watermark + late-data drops (append mode; rows-only) -----------

# Chunk count for the out-of-order t6 replay. The oracle's chunk rule,
# late-filter lag, and final-eviction index are all derived from this
# one constant so it can never silently diverge from the Spark call.
T6_CHUNKS = 4

@query(
    "t6_stream_late_data",
    oracle=f"""
WITH c AS (
  SELECT ts, CAST(event_id % {T6_CHUNKS} AS BIGINT) AS chunk,
         date_trunc('hour', ts) AS win_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end
  FROM events
),
cmax AS (SELECT chunk, max(ts) AS mx FROM c GROUP BY chunk),
wm AS (
  SELECT chunk,
         max(mx) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - INTERVAL 30 MINUTE AS w
  FROM cmax
),
accepted AS (
  SELECT c.win_start, c.win_end FROM c
  LEFT JOIN wm f ON f.chunk = c.chunk - 2
  WHERE f.w IS NULL OR c.win_end > f.w
)
SELECT win_start, count(*) AS n
FROM accepted
WHERE win_end <= (SELECT w FROM wm WHERE chunk = {T6_CHUNKS - 2})
GROUP BY win_start
""",
)
def t6_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode tumbling count over an OUT-OF-ORDER
    replay (id-interleaved chunks: chunk j = event_id % 4, every chunk
    spans the full time range): each micro-batch advances the
    watermark, so later chunks' old events are dropped and only
    finalized windows emit — intentionally NOT equal to the batch
    result.

    Full oracle nonetheless: with pinned micro-batches the drop/emit
    history is deterministic, and the measured microbatch watermark
    mechanics (verified against per-batch progress numbers at two SFs)
    are
      * W(k) = running max event time through chunk k, minus the
        30-min delay;
      * the late-row filter in batch j uses W(j-2) — the watermark
        LAGS one batch behind eviction, because batch j's watermark
        W(j-1) is applied to eviction at batch END while rows arriving
        in batch j were filtered with the watermark computed when
        batch j-1 finished planning (batch 1 measured dropping 0 rows,
        batch 2 dropping by W(0), batch 3 by W(1));
      * accepted rows emit iff win_end <= W(n_chunks-2), the LAST
        batch's eviction watermark — Trigger.AvailableNow stops
        without a trailing no-data flush batch, so the final chunk's
        watermark advance is never applied (measured: a window inside
        W(3) but past W(2) stays unflushed).
    The oracle replays exactly that in SQL over the same event_id % 4
    chunk assignment (why the chunker uses id-mod, not xxhash64: the
    assignment must be ANSI-SQL-expressible). The pytest layer keeps
    the coarser invariants (emitted ⊆ batch windows, counts ≤ batch)."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=T6_CHUNKS, order="hash")
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    out = spark.table(run_stream(agg, "memory", "append").name)
    return out.select(F.col("window.start").alias("win_start"), "n")


# --- T5: streaming dedup ------------------------------------------------------

@query(
    "t5_stream_dedup",
    oracle="""
SELECT event_id, event_type, round(value, 4) AS value
FROM events
""",
)
def t5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → effectively-once: the replay is unioned with
    itself (every message delivered twice) and dropDuplicates on the
    message id restores exactly-once delivery. Oracle = each event
    exactly once."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = doubled.dropDuplicates(["event_id"]).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )
    return spark.table(run_stream(deduped, "memory", "append").name)


# --- T4: session windows ------------------------------------------------------

@query(
    "t4_stream_session",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('second', ts) AS ts_s, value, event_id FROM events
),
marked AS (
  SELECT user_id, ts_s, value, event_id,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id, ts_s, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_s) AS sess_start,
       max(ts_s) + INTERVAL 30 MINUTE AS sess_end,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM sess
GROUP BY user_id, sid
""",
)
def t4_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-minute inactivity gap) per user —
    STREAMING, complete output mode over the 4-chunk replay, which
    makes the end-of-stream answer prefix-complete (every session
    merged across micro-batches, none unflushed) and therefore
    full-oracle checkable: the final table equals batch sessionization,
    replayed in SQL as the classic lag/cumsum rewrite. Session state is
    carried and MERGED across micro-batches by the session-window state
    store — adjacent per-batch fragments coalesce exactly like the
    batch expression. The watermarked append-mode variant (sessions
    flush only once the watermark passes; trailing sessions stay open —
    inherently rows-only) is t4d_stream_session_append. Timestamps are
    second-truncated on BOTH sides so gap comparisons never sit within
    a ulp of the 30-minute boundary."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = (
        stream.select("user_id", F.date_trunc("second", "ts").alias("ts_s"), "value")
        .groupBy(F.session_window("ts_s", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # fixed-point cents: session-store merge order != scan order
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(
        "user_id",
        F.col("session_window.start").alias("sess_start"),
        F.col("session_window.end").alias("sess_end"),
        "n_events",
        "total_cents",
    )


@query(
    "t4d_stream_session_append",
    oracle="""
WITH c AS (
  SELECT user_id, date_trunc('second', ts) AS ts_s, value, event_id,
         ntile(4) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (SELECT max(ts_s) - INTERVAL 30 MINUTE AS w FROM c WHERE chunk <= 2),
marked AS (
  SELECT user_id, ts_s, value, event_id,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM c
),
sess AS (
  SELECT user_id, ts_s, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_s) AS sess_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM sess, wm
GROUP BY user_id, sid, wm.w
HAVING max(ts_s) + INTERVAL 30 MINUTE < wm.w
""",
)
def t4d_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-driven flavor of T4: append mode emits a session
    only once the watermark passes its close, so sessions still open
    at end-of-stream stay unflushed. FULL oracle since r4 by the
    measured-mechanics method: the emitted set is exactly the t4c
    batch sessions whose end (last event + gap) < W_final, the last
    batch's watermark (max second-truncated ts through chunk n−2 minus
    the 30-min delay) — verified at sf0.001 (706 of 946 sessions) and
    sf0.01 (7,151 of 9,549), so the withholding cut is exercised, not
    vacuous. The session assembly itself is t4c's lag/cumsum rewrite
    with the strict > gap test (Spark merges touching windows)."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = (
        stream.select("user_id", F.date_trunc("second", "ts").alias("ts_s"), "value")
        .withWatermark("ts_s", "30 minutes")
        .groupBy(F.session_window("ts_s", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # fixed-point cents: session-store merge order != scan order
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    out = spark.table(run_stream(agg, "memory", "append").name)
    return out.select(
        "user_id",
        F.col("session_window.start").alias("sess_start"),
        "n_events",
        "total_cents",
    )


# --- J9: stream–static join ---------------------------------------------------

@query(
    "j9_stream_static_join",
    oracle="""
SELECT n.n_name AS nation, e.event_type, count(*) AS n,
       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events e
JOIN nation n ON CAST(e.user_id % 25 AS INTEGER) = n.n_nationkey
GROUP BY nation, e.event_type
""",
)
def j9_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the live stream with a broadcast dimension table (the
    archetype's lookup-join), then aggregate in complete mode. The
    static side is a bounded dim → broadcast hash join per
    micro-batch, no stream-side shuffle for the join."""
    stream = read_events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    joined = stream.join(
        F.broadcast(nation),
        (F.col("user_id") % 25).cast("int") == F.col("n_nationkey"),
    )
    agg = joined.groupBy(F.col("n_name").alias("nation"), "event_type").agg(
        F.count("*").alias("n"), F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("total_cents")
    )
    return spark.table(run_stream(agg, "memory", "complete").name)


# --- J10: stream–stream join --------------------------------------------------

@query(
    "j10_stream_stream_join",
    oracle="""
SELECT s.user_id,
       date_trunc('second', s.ts) AS signup_ts,
       date_trunc('second', p.ts) AS purchase_ts,
       round(p.value, 4) AS value
FROM events s
JOIN events p
  ON s.user_id = p.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
""",
)
def j10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join: purchases within 2 hours after a
    signup, both sides watermarked, time-interval join condition
    bounding the state. Inner-join emission is prefix-complete over a
    full replay → batch-equal oracle."""
    signups = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        "user_id",
        F.date_trunc("second", "s_ts").alias("signup_ts"),
        F.date_trunc("second", "p_ts").alias("purchase_ts"),
        F.round("value", 4).alias("value"),
    )
    return spark.table(run_stream(joined, "memory", "append").name)


# --- S6: file sink round-trip -------------------------------------------------

@query(
    "s6_stream_file_sink",
    oracle="""
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
""",
)
def s6_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet file sink (append mode + checkpoint WAL), then a batch
    read-back aggregation — the deliver-to-files leg of the archetype.
    """
    import tempfile

    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    path = tempfile.mkdtemp(prefix="sparkgraft_out_")
    run_stream(stream, "parquet", path=path, state_partitions=None)
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# --- S7: foreachBatch external-store delivery ---------------------------------

@query(
    "s7_stream_foreachbatch",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
""",
)
def s7_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External DB/KV delivery via foreachBatch: each micro-batch is
    appended to an 'upsert log' (parquet keyed by epoch — the pattern a
    JDBC/Redis writer follows, idempotent on retry by epoch id), then
    the log is compacted exactly-once per event and aggregated."""
    import tempfile

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "event_id", "event_type", "value"
    )
    store = tempfile.mkdtemp(prefix="sparkgraft_kv_")

    def deliver(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(store)
        )

    run_stream(stream, deliver, state_partitions=None)
    log = spark.read.parquet(store)
    # upsert compaction: last write per key wins (idempotent replays)
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy(F.col("__epoch").desc())
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__epoch")
    )
    return latest.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("total_cents")
    )


# --- S2: rate test source -----------------------------------------------------

@query(
    "s2_rate_source",
    oracle="""
SELECT CAST(range AS BIGINT) AS value FROM range(0, 1000)
""",
)
def s2_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic ticking test source: rate-micro-batch emits a
    deterministic value sequence per batch; one triggered batch of
    1000 rows. (The driver passes sf_dir; the rate source ignores it
    by design — it generates its own data.) Under AvailableNow the
    source plans exactly one batch, because its end offset is fixed at
    start + rowsPerBatch."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("startTimestamp", 0)
        .load()
        .select("value")
    )
    return spark.table(run_stream(stream, "memory").name)


# --- S4: JSON / CSV file scans -------------------------------------------------

@query(
    "s4_json_csv_scan",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
""",
)
def s4_json_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read file formats: the events table is exported once
    to JSON-lines and CSV under /tmp, read back through
    ``spark.read.json`` / ``spark.read.csv`` with explicit schemas,
    joined for mutual validation, and aggregated — the archetype's
    raw-payload ingestion path for non-parquet drops."""
    import os as _os
    import tempfile as _tf

    from sparkstreaming_mq_spark.tables import load_table as _lt

    from sparkstreaming_mq_spark.streaming.sources import _CACHE_VERSION

    from sparkstreaming_mq_spark.tables import cache_key as _ck

    key = f"{_ck(sf_dir, 'events')}_v{_CACHE_VERSION}"
    base = _os.path.join(_tf.gettempdir(), "sparkgraft_formats", key)
    ready = _os.path.join(base, "_READY")
    events = _lt(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    if not _os.path.exists(ready):
        _os.makedirs(base, exist_ok=True)
        events.write.mode("overwrite").json(_os.path.join(base, "json"))
        # CSV can't carry the JSON payload safely; keep scalar columns.
        events.drop("props").write.mode("overwrite").option("header", True).csv(
            _os.path.join(base, "csv")
        )
        open(ready, "w").close()
    jdf = spark.read.schema(
        "event_id long, event_type string, value double, props string"
    ).json(_os.path.join(base, "json"))
    cdf = (
        spark.read.schema("event_id long, event_type string, value double")
        .option("header", True)
        .csv(_os.path.join(base, "csv"))
        .select("event_id", F.col("value").alias("csv_value"))
    )
    both = jdf.join(cdf, "event_id")
    # belt-and-suspenders: the two formats must agree row-by-row
    both = both.filter(F.col("value") == F.col("csv_value"))
    return both.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "total_cents"
        ),
        F.max(F.get_json_object("props", "$.k").cast("int")).alias("max_k"),
    )


# --- S4b: ORC scan (third schema-on-read format) -------------------------------

@query(
    "s4b_orc_scan",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
""",
)
def s4b_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip (S4's third format, Spark-native, no
    extra jars): events exported once to ORC under /tmp, read back and
    aggregated — proves the engine's scan layer is format-agnostic
    (parquet/JSON/CSV/ORC all land in the same columnar scan node with
    pushdown + pruning)."""
    import os as _os
    import tempfile as _tf

    from sparkstreaming_mq_spark.streaming.sources import _CACHE_VERSION

    from sparkstreaming_mq_spark.tables import cache_key as _ck

    key = f"{_ck(sf_dir, 'events')}_v{_CACHE_VERSION}"
    base = _os.path.join(_tf.gettempdir(), "sparkgraft_orc", key)
    ready = _os.path.join(base, "_READY")
    if not _os.path.exists(ready):
        _os.makedirs(base, exist_ok=True)
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").orc(_os.path.join(base, "orc"))
        open(ready, "w").close()
    odf = spark.read.orc(_os.path.join(base, "orc"))
    return odf.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("total_cents")
    )


# --- T5b: bounded-state streaming dedup (dropDuplicatesWithinWatermark) --------

@query(
    "t5b_stream_dedup_watermarked",
    oracle="""
SELECT event_id, event_type, round(value, 4) AS value
FROM events
""",
)
def t5b_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's 100 TB variant: ``dropDuplicatesWithinWatermark`` keeps
    dedup state only for the watermark horizon instead of forever —
    the bounded-state form a production stream MUST use (plain
    dropDuplicates state grows without bound). The doubled replay
    delivers every message twice within the same micro-batch, well
    inside the 1-hour horizon, so the result is still each event
    exactly once — which the oracle checks."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )
    return spark.table(run_stream(deduped, "memory", "append").name)


# --- T4b: dynamic-gap session windows ------------------------------------------

@query(
    "t4b_session_dynamic_gap",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN INTERVAL 1 HOUR
              ELSE INTERVAL 30 MINUTE END AS gap,
         ntile(4) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM c WHERE chunk <= 2),
marked AS (
  SELECT user_id, ts, gap, event_id,
         CASE WHEN ts > max(ts + gap) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_sess
  FROM c
),
sess AS (
  SELECT user_id, ts, gap,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       date_trunc('second', min(ts)) AS sess_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess, wm
GROUP BY user_id, sid, wm.w
HAVING max(ts + gap) < wm.w
""",
)
def t4b_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-ROW gap (T4's dynamic form):
    purchase events extend sessions for 1 hour, everything else for 30
    minutes — `session_window(ts, when(...))`, watermarked append
    mode. FULL oracle since r4: dynamic-gap merging is the interval-
    union rewrite (new session iff ts > cumulative max of preceding
    ts+gap — strict, because Spark merges touching windows), and the
    emission cut is the measured sess_end < W_final rule shared with
    t4d (698 of 938 sessions emit at sf0.001, 7,098 of 9,478 at
    sf0.01 — the withheld tail is real). Session start is second-
    truncated in the OUTPUT only (assembly runs on raw µs stamps);
    DuckDB's ns-precision return would otherwise hash-differ."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = spark.table(run_stream(agg, "memory", "append").name)
    return out.select(
        "user_id",
        F.date_trunc("second", F.col("session_window.start")).alias("sess_start"),
        "n_events",
    )


# --- T8: update output mode -----------------------------------------------------

@query(
    "t8_stream_update_mode",
    oracle="""
WITH chunked AS (
  SELECT event_type, NTILE(4) OVER (ORDER BY ts, event_id) AS chunk
  FROM events
),
per AS (
  SELECT event_type, chunk, count(*) AS c FROM chunked GROUP BY event_type, chunk
)
SELECT event_type,
       CAST(sum(c) OVER (PARTITION BY event_type ORDER BY chunk) AS BIGINT) AS n
FROM per
""",
)
def t8_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode: per-batch changed-row emission for a running
    per-type count over the 4-chunk replay — the sink sees one row per
    (key, batch-it-changed-in); the LAST update per key equals the
    complete-mode result.

    Full oracle — the update HISTORY itself is deterministic here,
    because the replay's micro-batch boundaries are pinned (chunk k =
    ntile(4) over (ts, event_id); maxFilesPerTrigger=1 → one batch per
    chunk, oldest-first): update mode emits (key, running count) at
    exactly the batches where the key received rows, which the oracle
    replays as a per-chunk cumulative sum over the same ntile
    assignment. Watermark/eviction never enters (no event-time agg), so
    this is prefix-complete the same way complete mode is — the one
    output mode whose scored evidence can be value-exact."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    return spark.table(run_stream(agg, "memory", "update").name)


# --- S9: checkpoint recovery across restarts ------------------------------------

@query(
    "s9_checkpoint_recovery",
    oracle="""
SELECT event_id, event_type, round(value, 4) AS value
FROM events
""",
)
def s9_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once recovery across restarts — the driver-slot query
    for BOTH the parquet file sink (S6: writeStream.format("parquet")
    with its offset WAL + file-manifest commit protocol) and
    checkpoint recovery (S9): run 1 consumes the first half of the
    replay files into the file sink and stops; more files arrive; run
    2 restarts from the SAME checkpoint and must consume only the new
    files (the offset WAL dedupes the old ones). The sink then holds
    every event exactly once — which is precisely what the oracle
    checks. This is the engine-managed replacement for the archetype's
    hand-rolled offset commits. (s6_stream_file_sink, registered past
    the scored window, covers the single-run sink shape.)"""
    import shutil
    import tempfile as _tf

    from sparkstreaming_mq_spark.streaming.sources import (
        EVENTS_STREAM_SCHEMA,
        chunked_events_dir,
    )

    chunks = chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
    live = _tf.mkdtemp(prefix="sparkgraft_live_")
    out = _tf.mkdtemp(prefix="sparkgraft_recov_out_")
    ckpt = _tf.mkdtemp(prefix="sparkgraft_recov_ckpt_")
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{live}/chunk_*")
        .select("event_id", "event_type", F.round("value", 4).alias("value"))
    )

    def run_once() -> None:
        run_stream(
            stream, "parquet", checkpoint=ckpt, path=out, state_partitions=None
        )

    names = sorted(
        n for n in __import__("os").listdir(chunks) if n.startswith("chunk_")
    )
    try:
        for n in names[:2]:
            shutil.copytree(f"{chunks}/{n}", f"{live}/{n}")
        run_once()  # run 1: first two chunks
        for n in names[2:]:
            shutil.copytree(f"{chunks}/{n}", f"{live}/{n}")
        run_once()  # run 2: same checkpoint — picks up only the new files
    finally:
        # the output dir stays: the returned frame reads it lazily
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(out)

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in µs


@query(
    "t7_stateful_sessionize",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid,
         min(ts) AS sess_start,
         max(ts) AS sess_end,
         count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, sess_start, sess_end, n_events, total_cents
FROM agg
WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
""",
)
def t7_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key state machine via ``applyInPandasWithState``: a
    hand-rolled sessionizer keeping (start, last, count, sum) per user
    across micro-batches, emitting a session row whenever a 30-minute
    gap closes it. This is the engine's arbitrary-stateful extension
    point (SURVEY.md §2.8 T7) — the state survives between triggers in
    the checkpointed state store, exactly like a production counter or
    CEP operator. Sessions still open at end-of-stream stay in state
    (unflushed), matching append-mode t4d's semantics.

    Full oracle: with the replay's pinned in-order micro-batches the
    emitted set is exactly "every session but each user's last"
    (the last never closes), which the oracle replays via the
    lag/cumsum sessionization minus each user's max session id. The
    session sum is accumulated as fixed-point CENTS inside the state
    (floor(v*100+0.5) per event, integer adds) — a float sum rounded
    in the UDF would be association-order-sensitive and break hash
    parity (the repo's never-round-in-pandas rule); integer adds are
    exact and order-free on both engines."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "user_id", "ts", "value"
    )

    def sessionize(key, pdf_iter, state: GroupState):
        # SHARD-keyed state (r14, the t22/s21/s19 layout): one state
        # group per hash shard holding every shard user's four session
        # scalars as parallel arrays. Keying by user_id paid one python
        # call + one state ser/de per user per batch (~15k groups at
        # sf0.1; r14 profile: 13.4 s wall, 21.4 s task runTime, 0.9 s
        # JVM cpu — ~96 % group-overhead wait). The shard kernel walks
        # the same rows per user in the same ts order through the
        # identical per-event state machine (same math.floor float
        # arithmetic, same integer cent adds), so the emitted sessions
        # — and the full oracle — are unchanged.
        import math

        (_shard,) = key
        su: dict[int, list] = {}  # uid -> [start, last, n, cents]
        if state.exists:
            uids_a, st_a, la_a, n_a, c_a = state.get
            for u_id, s0, l0, n0, c0 in zip(uids_a, st_a, la_a, n_a, c_a):
                su[u_id] = [s0, l0, n0, c0]
        closed: list[tuple] = []
        # Concatenate BEFORE sorting: the iterator yields the group's
        # micro-batch rows as multiple Arrow chunks once they exceed
        # arrow.maxRecordsPerBatch, and a per-chunk sort would let `last`
        # move backward across chunk boundaries at scale (review r4).
        # Sorting (user_id, ts) keeps each user's rows in the ts order
        # the per-user form saw; cross-user order is irrelevant.
        chunks = list(pdf_iter)
        for pdf in (
            [pd.concat(chunks).sort_values(["user_id", "ts"])] if chunks else []
        ):
            for uid, ts, val in zip(pdf["user_id"], pdf["ts"], pdf["value"]):
                uid = int(uid)
                st = su.get(uid)
                if st is None:
                    st = su[uid] = [None, None, 0, 0]
                start, last, n, cents = st
                us = int(ts.value // 1000)  # pandas ns → µs
                if last is not None and us - last > SESSION_GAP_US:
                    closed.append((uid, start, last, n, cents))
                    start, n, cents = us, 0, 0
                if start is None:
                    start = us
                # fixed-point cents: same IEEE double ops as the SQL
                # floor(v*100+0.5), then exact integer accumulation
                st[0], st[1], st[2] = start, us, n + 1
                st[3] = cents + int(math.floor(float(val) * 100 + 0.5))
        uids_o = sorted(su)
        state.update(
            (
                uids_o,
                [su[u][0] for u in uids_o],
                [su[u][1] for u in uids_o],
                [su[u][2] for u in uids_o],
                [su[u][3] for u in uids_o],
            )
        )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "start_us", "end_us", "n_events", "total_cents"],
            )

    out = (
        stream.withColumn("shard", F.pmod("user_id", F.lit(64)))
        .groupBy("shard")
        .applyInPandasWithState(
            sessionize,
            outputStructType=(
                "user_id long, start_us long, end_us long, n_events long, total_cents long"
            ),
            stateStructType=(
                "uids array<long>, start array<long>, last array<long>, "
                "n array<long>, total_cents array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    res = spark.table(run_stream(out, "memory", "append").name)
    return res.select(
        "user_id",
        F.timestamp_micros("start_us").alias("sess_start"),
        F.timestamp_micros("end_us").alias("sess_end"),
        "n_events",
        "total_cents",
    )


# --- T7b: transformWithStateInPandas (Spark 4 stateful API) -------------------

def _has_working_protobuf() -> bool:
    """transformWithStateInPandas drives its Python worker over a
    protobuf channel; this container ships a broken google.protobuf
    (``cannot import name 'descriptor'``, verified by execution), so
    the operator registers only where the dependency actually works —
    the applyInPandasWithState path (t7) covers arbitrary state here."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _maybe_register_t7b(fn):
    if _has_working_protobuf():
        return query("t7b_transform_with_state")(fn)
    return fn


@_maybe_register_t7b
def t7b_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event counter on the NEW Spark 4 arbitrary-state
    API (``transformWithStateInPandas`` + typed ValueState on the
    RocksDB state store): each micro-batch emits the updated cumulative
    (user_id, n_events, total_value). The final update per user equals
    the batch aggregate — asserted in pytest. Complements t7's
    ``applyInPandasWithState`` (the 3.x API) so both stateful extension
    points are covered."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("acc", "n long, total_cents long")

        def handleInputRows(self, key, rows, timerValues):
            import math

            n, cents = (self._state.get() or (0, 0)) if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                # fixed-point cents: per-row floor(v*100+0.5) then exact
                # integer adds (a float sum rounded here would be
                # association-order-sensitive — the repo parity rule)
                cents += int(sum(math.floor(float(v) * 100 + 0.5) for v in pdf["value"]))
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "user_id", "value"
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCounter(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )
    return spark.table(run_stream(out, "memory", "update").name)


# --- T10: stream monitoring ---------------------------------------------------

@query(
    "t10_stream_progress",
    oracle="""
WITH chunked AS (
  SELECT CAST(NTILE(4) OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS batch_id
  FROM events
)
SELECT batch_id, count(*) AS num_input_rows
FROM chunked
GROUP BY batch_id
""",
)
def t10_stream_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-progress observability (replaces the archetype's log
    files): run a replay and surface per-batch progress counters from
    the StreamingQuery API as rows.

    Full oracle: wall-clock metrics would be run-dependent, but the
    surfaced counters (batchId, numInputRows) are not — the replay's
    micro-batches are pinned (one per ntile(4) chunk, oldest-first,
    no trailing no-data batch under AvailableNow, verified), so the
    progress log's input counts equal the chunk sizes, which the
    oracle re-derives from the same ntile assignment."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "event_id", "event_type"
    )
    q = run_stream(stream, "memory")
    rows = [
        (int(p["batchId"]), int(p["numInputRows"]))
        for p in (q.recentProgress or [])
        if p is not None
    ]
    return spark.createDataFrame(rows, "batch_id long, num_input_rows long")


# --- T4 (batch twin): session windows with a full SQL oracle ------------------

@query(
    "t4c_session_batch",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('second', ts) AS ts_s, value, event_id FROM events
),
marked AS (
  SELECT user_id, ts_s, value, event_id,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id, ts_s, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_s) AS sess_start,
       max(ts_s) + INTERVAL 30 MINUTE AS sess_end,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM sess
GROUP BY user_id, sid
""",
)
def t4c_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (SURVEY.md §2.8 T4) in BATCH mode —
    ``session_window`` is the same Catalyst expression batch or
    streaming, so this twin gives T4 a full value-hash oracle (the
    streaming t4 is rows-only because watermark flushing is the point
    there). The oracle replays session merging as the classic
    lag/cumsum rewrite with a STRICT > gap test: Spark merges session
    windows that touch (next event at exactly last + gap stays in the
    session — found by an sf0.1 off-by-one this oracle's >= missed at
    smaller SFs). Timestamps are second-truncated on BOTH sides so gap
    comparisons never sit within a ulp of the 30-minute boundary.
    Scale: one shuffle on user_id; session merging is partition-local
    after that, exactly how it shards on a cluster."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", "ts").alias("ts_s"), "value"
    )
    return (
        ev.groupBy(F.session_window("ts_s", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "total_cents",
        )
    )


# --- S10: streaming MERGE materialization (CDC stream → versioned table) ------

_CDC_REPLAY_VERSION = 1
_CDC_N_CHUNKS = 4


def _cdc_chunks_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministic orders change-set (operators/cdc
    `_changes`) as _CDC_N_CHUNKS replay files — the offline stand-in
    for a CDC topic. Every key carries exactly one op, so chunk
    assignment (hash of the key) never splits a key across epochs."""
    import os
    import tempfile

    from sparkstreaming_mq_spark.tables import cache_key as _ck

    key = f"{_ck(sf_dir, 'orders')}_{_CDC_N_CHUNKS}_v{_CDC_REPLAY_VERSION}"
    out = os.path.join(tempfile.gettempdir(), "sparkgraft_cdcreplay", key)
    done = os.path.join(out, "_READY")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    from sparkstreaming_mq_spark.operators.cdc import _changes

    ch = _changes(load_table(spark, sf_dir, "orders")).withColumn(
        "__chunk", F.pmod(F.xxhash64("o_orderkey"), F.lit(_CDC_N_CHUNKS))
    )
    for k in range(_CDC_N_CHUNKS):
        (
            ch.filter(F.col("__chunk") == k)
            .drop("__chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"chunk_{k:03d}"))
        )
    open(done, "w").close()
    return out


from sparkstreaming_mq_spark.operators import cdc as _cdc_mod  # noqa: E402,F401
from sparkstreaming_mq_spark.registry import ORACLES as _REG_ORACLES  # noqa: E402


@query("s10_stream_merge_upsert", oracle=_REG_ORACLES["m1_merge_upsert"])
def s10_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization end-to-end: the change-set arrives
    as a 4-epoch replay stream (S1), and foreachBatch (S7) MERGEs each
    epoch into a manifest-versioned snapshot table (the o13 time-travel
    mechanism) — epoch-numbered version directories make retries
    idempotent, and readers always see a complete committed version.
    The final snapshot provably equals the one-shot batch MERGE
    (m1_merge_upsert), so it carries m1's exact SQL oracle directly
    (promoted from rows-only in r12 — VERDICT r11 item 3): the
    epoch-by-epoch application commutes because every key carries
    exactly ONE op and the key-hash chunker never splits a key across
    epochs, making the 4-epoch fold order-free and the final snapshot
    deterministic. This is the full delivery path of the
    archetype (queue → transform → mutable store) with the store's
    consistency mechanism made explicit. At 100 TB each epoch rewrites
    only partitions containing touched keys (partition-pruned MERGE);
    here the snapshot is small enough to rewrite whole."""
    import json
    import os
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    chunks = _cdc_chunks_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("op", StringType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{chunks}/chunk_*")
    )

    table = tempfile.mkdtemp(prefix="sparkgraft_mergetable_")
    manifest = os.path.join(table, "manifest.json")
    v0 = os.path.join(table, "v0")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .parquet(v0)
    )
    with open(manifest, "w") as f:
        json.dump({"version": 0, "path": v0}, f)

    def merge_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        with open(manifest) as f:
            cur = json.load(f)
        dst = os.path.join(table, f"v{epoch_id + 1}")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            return  # retried epoch: version already committed
        snap = spark.read.parquet(cur["path"])
        touched = batch_df.filter(F.col("op") != "I").select("o_orderkey")
        applied = batch_df.filter(F.col("op") != "D").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        (
            snap.join(touched, "o_orderkey", "left_anti")
            .unionByName(applied)
            .write.mode("overwrite")
            .parquet(dst)
        )
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": epoch_id + 1, "path": dst}, f)
        os.replace(tmp, manifest)

    run_stream(stream, merge_epoch, state_partitions=None)
    with open(manifest) as f:
        final = json.load(f)
    return spark.read.parquet(final["path"])


# s10b: the batch-equivalence check as its own oracle-carrying query —
# identical result contract to m1_merge_upsert, produced by the
# STREAMING path. Prefix-complete (every chunk consumed under
# AvailableNow), so the exact SQL oracle is sound.
from sparkstreaming_mq_spark.operators.cdc import m1_merge_upsert as _m1  # noqa: E402
from sparkstreaming_mq_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query("s10b_stream_merge_equiv", oracle=_ORACLES["m1_merge_upsert"])
def s10b_stream_merge_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MERGE materialization's final snapshot, exposed
    under m1's exact oracle: the driver hash-compares the STREAMED
    result against the SQL MERGE semantics — proving the epoch-by-epoch
    foreachBatch delivery converges to the batch answer."""
    return s10_stream_merge_upsert(spark, sf_dir)


# --- T11: RocksDB state store (the 100 TB state backend) ----------------------

@query(
    "t11_rocksdb_state",
    oracle="""
SELECT date_trunc('day', ts) AS day_start, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY day_start, event_type
""",
)
def t11_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily aggregation with the RocksDB state store
    provider — the production state backend at scale: keyed state
    lives off-heap/on-disk per partition instead of in executor heap,
    so watermark-bounded state survives 100 TB replay volumes that
    would OOM the default HDFS-backed in-memory map. Same
    prefix-complete complete-mode semantics as t2, so the batch SQL
    oracle applies; the provider swap is pure configuration — the
    plan, and therefore the result, is identical.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
        agg = stream.groupBy(F.window("ts", "1 day"), "event_type").agg(
            F.count("*").alias("n"), F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("total_cents")
        )
        out = spark.table(run_stream(agg, "memory", "complete").name)
        # materialize before restoring the provider conf (the memory
        # sink is already complete after awaitTermination, but keep the
        # read inside the override for clarity)
        return out.select(
            F.col("window.start").alias("day_start"), "event_type", "n", "total_cents"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- J10b: stream-stream LEFT OUTER join --------------------------------------

@query("j10b_stream_outer_join")
def j10b_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER join: every signup, matched with the
    purchases that follow it within 2 hours — or emitted null-padded
    once the watermark proves no match can arrive. The outer-emission
    timing depends on watermark advancement across micro-batches
    (null rows for signups still inside the join window at end-of-
    replay are correctly withheld), so this is rows-only by design;
    tests/test_semantics.py pins the containment properties (matched
    rows == the inner join; null rows only for truly unmatched
    signups).

    Scale — equality-key-only state (user_id), the t15/j10c measured
    pathology shape: fine under uniform arrivals (state per key is a
    bounded time slice), O(hot²) under a hot user — j10c's skew-30×
    row (745 s vs 19.8 s uniform, BASELINE "Round-11 streaming-state
    skew") speaks for this identical join. Production form =
    j10d_bucketed_outer_join (row-identical, 45× faster under skew).
    """
    signups = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    ).select(
        "user_id",
        F.date_trunc("second", "s_ts").alias("signup_ts"),
        F.date_trunc("second", "p_ts").alias("purchase_ts"),
        F.round("value", 4).alias("value"),
    )
    return spark.table(run_stream(joined, "memory", "append").name)


# --- S11: multi-topic fan-in (union of streams) -------------------------------

@query(
    "s11_stream_union",
    oracle="""
SELECT date_trunc('day', ts) AS day_start, event_type, count(*) AS n
FROM events
GROUP BY day_start, event_type
""",
)
def s11_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-topic fan-in: the archetype's `subscribe("a,b")` shape —
    two independent streams (here: a clickstream topic carrying
    view/click and a transaction topic carrying signup/purchase/error,
    each its own replay source with its own offsets) unioned into ONE
    unbounded DataFrame and aggregated together. Structured Streaming
    tracks each source's offsets independently in the same checkpoint,
    exactly as the kafka source does per topic-partition; the union is
    a zero-shuffle narrow op. Complete-mode aggregation over a full
    replay equals the batch aggregation over all events — each event
    belongs to exactly one topic, so the union re-assembles the
    original stream.
    """
    clicks = read_events_stream_chunked(
        spark, sf_dir, n_chunks=2, order="time"
    ).filter(F.col("event_type").isin("view", "click"))
    txns = read_events_stream_chunked(
        spark, sf_dir, n_chunks=4, order="time"
    ).filter(F.col("event_type").isin("signup", "purchase", "error"))
    unioned = clicks.unionByName(txns)
    agg = unioned.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(
        F.col("window.start").alias("day_start"), "event_type", "n"
    )


# --- S12: custom Python data source (Spark 4 DataSource API) ------------------

@query(
    "s12_python_datasource",
    oracle="""
WITH ranked AS (
  SELECT event_id, props,
         NTILE(4) OVER (ORDER BY ts, event_id) - 1 AS part_id
  FROM events
)
SELECT 'events' AS topic, part_id,
       count(*) AS n,
       min(event_id) AS min_offset,
       max(event_id) AS max_offset,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k
FROM ranked
GROUP BY part_id
""",
)
def s12_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's own connector: a Spark 4 Python DataSource
    (streaming/sources.py ``MQReplayDataSource``) exposing the replay
    directory as MQ envelope records (topic, part_id, offset, ts, key,
    value) — one planner partition per queue partition, Arrow batches
    end-to-end. The query consumes the envelope exactly as the
    archetype does: parse the opaque JSON payload, aggregate per
    topic-partition with offset ranges (the consumer-lag bookkeeping
    view). The oracle replays the connector's partitioning (NTILE over
    event time) in SQL, so partition assignment, offsets, and payload
    parse are all value-checked.
    """
    from sparkstreaming_mq_spark.streaming.sources import (
        MQReplayDataSource,
        ship_package,
        chunked_events_dir,
    )

    if MQReplayDataSource is None:  # pragma: no cover - Spark < 4
        raise RuntimeError("Python DataSource API unavailable")
    ship_package(spark)
    try:
        spark.dataSource.register(MQReplayDataSource)
    except Exception:
        pass  # already registered in this session
    base = chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
    env = spark.read.format("mqreplay").option("path", base).load()
    return (
        env.select(
            "topic",
            "part_id",
            "offset",
            F.get_json_object("value", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("topic", "part_id")
        .agg(
            F.count("*").alias("n"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.sum("k").alias("sum_k"),
        )
    )


@query(
    "s12b_python_stream_source",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         NTILE(4) OVER (ORDER BY ts, event_id) - 1 AS part_id
  FROM events
)
SELECT part_id, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM ranked
GROUP BY part_id, event_type
""",
)
def s12b_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom connector as a true STREAMING source: Spark 4's
    SimpleDataSourceStreamReader drives the replay with engine-managed
    offsets (initialOffset/read/commit through the checkpoint WAL —
    the kafka consumer-group mechanic, reimplemented in ~40 lines of
    Python). Complete-mode aggregation over the full replay equals the
    batch answer; the oracle also re-derives the connector's partition
    ids, so offset bookkeeping is value-checked too.
    """
    from sparkstreaming_mq_spark.streaming.sources import (
        chunked_events_dir,
        make_mq_stream_datasource,
    )

    try:
        cls = make_mq_stream_datasource()
    except ImportError:  # pragma: no cover - Spark < 4
        raise RuntimeError("Python streaming DataSource API unavailable")
    try:
        spark.dataSource.register(cls)
    except Exception:
        pass
    base = chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
    env = spark.readStream.format("mqreplay_stream").option("path", base).load()
    # fixed-point cents, not a per-row DECIMAL cast: value is an
    # arbitrary double, and Spark casts HALF_UP where DuckDB rounds
    # HALF_EVEN — the measured f10 trap. floor(x*100+0.5) quantizes
    # identically on both engines and the BIGINT sum is exact.
    agg = env.groupBy("part_id", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "total_cents"
        ),
    )
    return spark.table(run_stream(agg, "memory", "complete").name)


# --- S13: streaming decontamination against a static corpus -------------------

# Docs with doc_id % CORPUS_MOD == 0 stand in for the already-ingested
# corpus; everything replays as the incoming crawl.
CORPUS_MOD = 3


@query(
    "s13_stream_decontaminate",
    oracle=f"""
WITH corpus AS (
  SELECT DISTINCT sha256(text) AS digest
  FROM documents WHERE doc_id % {CORPUS_MOD} = 0 AND text IS NOT NULL
)
SELECT d.doc_id, d.lang, d.source, sha256(d.text) AS digest
FROM documents d
WHERE d.text IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = sha256(d.text))
""",
)
def s13_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup (SURVEY.md §2.8 T5 × §2.10 L1): an
    incoming crawl stream left-anti-joined per micro-batch against the
    static digest set of the existing corpus — the production "drop
    re-crawls of what we already have" gate, the streaming complement
    to batch l1/l10. The digest dim is bounded (one 32-byte digest per
    distinct corpus doc) → broadcast hash anti-join per batch, no
    stream-side shuffle and NO state store (stateless join, unlike
    t5's in-stream dedup whose key state must be watermark-bounded).
    At 100 TB the digest set outgrows a broadcast; the same plan then
    shuffles on digest — still one exchange, zero state. Stateless
    append emission is prefix-complete over a full replay → exact
    batch oracle. NULL texts are excluded on BOTH sides (a NULL digest
    never anti-joins away in Spark but would poison a SQL NOT IN —
    the oracle uses NOT EXISTS plus the same explicit filter)."""
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % CORPUS_MOD == 0)
        .filter(F.col("text").isNotNull())
        .select(F.sha2("text", 256).alias("digest"))
        .distinct()
    )
    crawl = (
        read_docs_stream_chunked(spark, sf_dir, n_chunks=4)
        .filter(F.col("text").isNotNull())
        .withColumn("digest", F.sha2("text", 256))
    )
    fresh = crawl.join(F.broadcast(corpus), "digest", "left_anti")
    q = run_stream(fresh.select("doc_id", "lang", "source", "digest"), "memory")
    return spark.table(q.name)


# --- T12: sketch aggregation inside streaming state ---------------------------

@query(
    "t12_stream_distinct",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY win_start
""",
)
def t12_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting INSIDE streaming state: per-hour
    unique users via Datasketches HLL as the streaming aggregation
    buffer — the only distinct-count shape that works in long-running
    streams, because the state per window is a fixed-size sketch
    instead of an unbounded user-id set (a4b's rollup argument,
    applied to the state store). Complete mode over the full 4-chunk
    replay is prefix-complete; at gate scale the lgK=14 sketch stays
    in sparse-exact mode, so the exact COUNT DISTINCT oracle
    value-checks the real sketch path (the a4b/l2 cost-based oracle
    pattern). Residual risk, accepted: sparse-mode coupon collisions
    can make one window off by 1 with p ~ sum(n_w^2)/2^26 (~1e-4 at
    sf0.001, ~1e-3 at sf0.01) — if a fixture regeneration densifies
    hourly traffic, coarsen the window before trusting the oracle."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = stream.groupBy(F.window("ts", "1 hour")).agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("n_users")
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(F.col("window.start").alias("win_start"), "n_users")


# --- T13: state-store introspection (checkpoint state as a batch table) -------

@query(
    "t13_state_inspect",
    oracle="""
SELECT event_type, n_state
FROM (
  SELECT event_type, count(*) AS n_state FROM events GROUP BY event_type
)
""",
)
def t13_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational state introspection: run a stateful streaming
    aggregation to completion, then open its checkpoint's state store
    with Spark 4's `statestore` batch reader — the debugging/audit
    path for a production stream (answer "what is this query's state
    RIGHT NOW" from the checkpoint, without touching the stream). The
    oracle proves the inspected state is exactly the aggregation the
    stream computed: complete-mode counts per event type equal the
    batch GROUP BY. At 100 TB the reader scans state shards in
    parallel exactly like any other data source — state debugging
    scales with the state, not the stream. The checkpoint is passed in,
    so the runner keeps it: the ``statestore`` read is lazy and needs
    it after the stream has ended."""
    import tempfile

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    ckpt = tempfile.mkdtemp(prefix="sparkgraft_state_")
    run_stream(agg, "memory", "complete", checkpoint=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_state"),
    )


# --- S8: MQ sink (custom Python DataSource writer) ----------------------------

@query(
    "s8_python_mq_sink",
    oracle="""
SELECT event_type, count(*) AS n,
       min(event_id) AS min_key, max(event_id) AS max_key
FROM events
GROUP BY event_type
""",
)
def s8_python_mq_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 made runnable: events are produced to the custom MQ sink
    (`MQSinkDataSource`, a from-scratch Python DataSource WRITER) as
    envelope records — every write task is a producer appending one
    JSON-lines segment, and delivery is transactional two-phase
    (tasks stage `*.tmp` segments + commit messages; only the driver
    commit renames them and publishes the manifest — kafka's
    transactional-producer protocol with the local FS standing in for
    the broker). The consumed-back messages are then aggregated by
    header type; the oracle checks against the original events, so a
    lost, duplicated, or torn message fails the value hash."""
    import json
    import os
    import tempfile

    from sparkstreaming_mq_spark.streaming.sources import (
        MQSinkDataSource,
        ship_package,
    )

    if MQSinkDataSource is None:  # pragma: no cover - Spark < 4
        raise RuntimeError("Python DataSource writer API unavailable")
    ship_package(spark)
    try:
        spark.dataSource.register(MQSinkDataSource)
    except Exception:
        pass
    env = load_table(spark, sf_dir, "events").select(
        F.lit("events").alias("topic"),
        F.col("event_id").alias("key"),
        F.col("props").alias("value"),
        F.col("event_type").alias("htype"),
    )
    broker = tempfile.mkdtemp(prefix="sparkgraft_broker_")
    env.write.format("mqsink").option("path", broker).mode("append").save()
    with open(os.path.join(broker, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    files = [os.path.join(broker, "data", s) for s in manifest["segments"]]
    msgs = spark.read.schema(
        "topic string, key bigint, value string, htype string"
    ).json(files)
    return msgs.groupBy(F.col("htype").alias("event_type")).agg(
        F.count("*").alias("n"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )


# --- S14: streaming incremental dedup (stateful 3-way classify) ---------------

# The streaming form of batch l30: every document on the incoming
# crawl stream is classified against (a) the standing corpus's digest
# index — a stateless broadcast probe, like s13 — and (b) what the
# stream itself has already seen, which needs PER-DIGEST STATE across
# micro-batches (t5's dedup drops re-occurrences; classification must
# emit them with a label instead, hence applyInPandasWithState rather
# than dropDuplicates). Standing corpus = doc_id % S14_CORPUS_MOD != 0,
# so recrawls of stored pages are exercised too.
#
# Scale: state is one bit per distinct streamed digest, keyed and
# sharded by digest hash; production bounds it with a timeout/TTL
# (t5b's watermark argument) — at fixture scale NoTimeout keeps the
# full-replay semantics exact. Append mode, one output row per input
# row, in-order replay → prefix-complete → full SQL oracle replaying
# (chunk = doc_id % n_chunks, doc_id) arrival order.

S14_CORPUS_MOD = 5
S14_CHUNKS = 4

S14_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT sha256(text) AS h
  FROM documents WHERE doc_id % {S14_CORPUS_MOD} != 0
),
inc AS (
  SELECT doc_id, sha256(text) AS h, doc_id % {S14_CHUNKS} AS chunk
  FROM documents
),
r AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY chunk, doc_id) AS rn
  FROM inc
)
SELECT r.doc_id, r.h AS digest,
       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN r.rn = 1 THEN 'new'
            ELSE 'dup_in_batch' END AS status
FROM r LEFT JOIN corpus c ON r.h = c.h
"""


@query("s14_stream_incremental_dedup", oracle=S14_ORACLE)
def s14_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup classification on the crawl stream: per
    micro-batch, each doc is marked 'dup_of_corpus' (digest already in
    the standing store — stateless broadcast probe), 'new' (first
    sighting on the stream), or 'dup_in_batch' (the stream saw it in
    this or an earlier micro-batch — per-digest state store bit)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % S14_CORPUS_MOD != 0)
        .select(F.sha2("text", 256).alias("digest"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    crawl = read_docs_stream_chunked(spark, sf_dir, n_chunks=S14_CHUNKS).select(
        "doc_id", F.sha2("text", 256).alias("digest")
    )
    probed = crawl.join(F.broadcast(corpus), "digest", "left")

    def classify(key, pdf_iter, state: GroupState):
        # SHARD-keyed state (r14, the t7/s21 layout): one group per
        # digest-hash shard — per-digest groups paid one python call +
        # state ser/de per distinct digest per batch. r15 bounds the
        # shard state (VERDICT item 2): (a) raw 32-byte digests packed
        # into ONE binary blob instead of an array of 64-char hex
        # strings (~3x fewer state bytes, no per-element object
        # overhead); (b) corpus-dup digests are NOT stored — the
        # in_corpus probe short-circuits the seen-test, so their
        # membership is never consulted and the state tracks only the
        # stream-new share of digests. Rows sorted (dig, doc_id): each
        # digest sees the identical doc order (hex and raw bytes sort
        # identically byte-wise), so the emitted labels — and the
        # replay oracle — are unchanged.
        (_shard,) = key
        seen: set = set()
        if state.exists:
            blob = state.get[0] or b""
            seen = {bytes(blob[i : i + 32]) for i in range(0, len(blob), 32)}
        rows: list[tuple] = []
        # concat-then-sort: see t7's sessionize — per-chunk sorts break
        # global doc_id order once a group's batch spans Arrow chunks
        chunks = list(pdf_iter)
        for pdf in (
            [pd.concat(chunks).sort_values(["dig", "doc_id"])] if chunks else []
        ):
            for doc_id, dig, in_corpus in zip(
                pdf["doc_id"], pdf["dig"], pdf["in_corpus"]
            ):
                d = bytes(dig)
                if not pd.isna(in_corpus):
                    status = "dup_of_corpus"
                elif d in seen:
                    status = "dup_in_batch"
                else:
                    status = "new"
                    seen.add(d)
                rows.append((int(doc_id), d.hex(), status))
        state.update((b"".join(sorted(seen)),))
        if rows:
            yield pd.DataFrame(rows, columns=["doc_id", "digest", "status"])

    out = (
        # the python workers receive the 32-byte unhexed digest, not
        # the 64-char hex string (the hex round-trips exactly through
        # bytes.hex() — F.sha2 emits lowercase)
        probed.withColumn("shard", F.pmod(F.xxhash64("digest"), F.lit(64)))
        .select("shard", "doc_id", F.unhex("digest").alias("dig"), "in_corpus")
        .groupBy("shard")
        .applyInPandasWithState(
            classify,
            outputStructType="doc_id long, digest string, status string",
            stateStructType="seen binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return spark.table(run_stream(out, "memory", "append").name)


# --- T14: chained stateful operators (multi-agg in one streaming query) ------

T14_CHUNKS = 4
T14_DELAY = "30 minutes"


@query(
    "t14_chained_windows",
    oracle=f"""
WITH c AS (
  SELECT ts, event_type, value,
         ntile({T14_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM c WHERE chunk <= {T14_CHUNKS - 2}
),
hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM c GROUP BY h, event_type
),
daily AS (
  SELECT date_trunc('day', h) AS day_start, event_type,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_active_hours,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM hourly GROUP BY day_start, event_type
)
SELECT day_start, event_type, n_events, n_active_hours, total_cents
FROM daily, wm
WHERE day_start + INTERVAL 1 DAY <= wm.w
""",
)
def t14_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark ≥3.4):
    watermarked 1-hour tumbling aggregation feeding a second stateful
    1-day window aggregation over the hour windows — the streaming
    continuous-rollup shape (raw → hourly → daily) that previously
    required two queries and an intermediate sink.

    Mechanics measured (per-batch progress, sf0.001 + sf0.01): stage-1
    hour windows evict at batch end once win_end ≤ W, flow into
    stage 2 WITHIN the same micro-batch, and stage 2 evicts day
    windows against the SAME watermark — so the emitted set is simply
    day_end ≤ W_final with no extra one-batch lag, where
    W_final = max ts of chunks 0..n−2 minus the 30-min delay (the
    final chunk's watermark advance is never applied: AvailableNow
    stops without a trailing flush batch, same as t6). The replay is
    time-ordered (ntile over (ts, event_id) — SQL-standard, so DuckDB
    reproduces the chunking exactly), hence nothing is ever late and
    the late-filter lag of t6 never triggers; the oracle is the full
    hour→day rollup gated by that single W_final cut. Fixed-point
    cents (f10 pattern) keep the chained sums integer-exact on both
    engines.

    Scale: state is (hour × type) + (day × type) — both watermark-
    bounded; the second stage's input is the finalized hourly rows
    (≤ 1/3600 of the raw stream), so the chain costs one extra tiny
    shuffle. This is the 100 TB continuous-aggregate path: one query,
    no intermediate storage, both rollup grains exactly consistent.
    """
    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=T14_CHUNKS, order="time"
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hourly = (
        stream.withWatermark("ts", T14_DELAY)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    )
    daily = (
        hourly.groupBy(F.window(F.col("window"), "1 day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_active_hours"),
            F.sum("cents").alias("total_cents"),
        )
    )
    out = spark.table(run_stream(daily, "memory", "append").name)
    return out.select(
        F.col("window.start").alias("day_start"),
        "event_type",
        "n_events",
        "n_active_hours",
        "total_cents",
    )


# --- T15: chained stateful operators II — stream-stream join feeding a window agg

T15_CHUNKS = 4
T15_DELAY = "4 hours"


@query(
    # NEGATIVE CONTROL: equality-key-only interval-join state — the
    # measured O(hot²) skew pathology. Production form = t19 (bucketed
    # key). Slot + oracle deliberately retained; see docstring.
    "t15_join_then_window",
    oracle=f"""
WITH c AS (
  SELECT ts, event_id, user_id, event_type, value,
         ntile({T15_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT least(
           (SELECT max(ts) FROM c WHERE chunk <= {T15_CHUNKS - 2}
            AND event_type = 'signup'),
           (SELECT max(ts) FROM c WHERE chunk <= {T15_CHUNKS - 2}
            AND event_type = 'purchase')
         ) - INTERVAL 4 HOUR AS w
),
pairs AS (
  SELECT p.ts AS pts, p.value AS value
  FROM c s JOIN c p
    ON s.user_id = p.user_id
   AND s.event_type = 'signup' AND p.event_type = 'purchase'
   AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
)
SELECT date_trunc('day', pts) AS day_start,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM pairs, wm
WHERE date_trunc('day', pts) + INTERVAL 1 DAY <= wm.w
GROUP BY day_start
""",
)
def t15_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER chained-stateful pair (t14 is agg→agg): a watermarked
    stream-stream interval join whose output feeds a second stateful
    windowed aggregation, in one streaming query — conversion pairs
    (purchase within 2 h of signup) rolled up to daily counts/revenue.

    Mechanics measured per-batch (sf0.001/0.01/0.1): the inner join
    emits matches eagerly in the micro-batch where the LATER side
    arrives (time-ordered replay → the purchase's chunk), so joined
    rows always reach the aggregation ahead of the watermark — the
    time-ordered chunking keeps everything on the fresh side of W, and
    the only cut is the final-state one: day windows emit iff
    day_end ≤ W_final, where W_final is the MIN over the two sides'
    per-column maxima through chunk n−2, minus the shared 4 h delay
    (watermark policy `min` across multiple watermarked inputs;
    AvailableNow never applies the last chunk's advance — t6/t14).
    The oracle replays the ntile chunking, both per-side watermark
    maxima, the batch-equal inner join, and that single cut.

    Scale — **DOCUMENTED NEGATIVE CONTROL (r10 disposition; do NOT
    copy this shape for production interval joins — use t19)**: the
    join state here is keyed by the EQUALITY columns only (user_id);
    the time condition filters AFTER the per-key state scan. Per-user
    state is bounded by the 2 h interval × 4 h delay only under
    uniform arrivals — a hot user is O(hot²) state rescans serialized
    on ONE state partition. Measured (BASELINE.md "Streaming-state
    skew"): 790.5 s at skew-30×, ABORTED ≥48 min at skew-100×
    (uniform-100× is 110.7 s). t19_bucketed_interval_join is the
    lossless production form — event-time bucket IN the equality key,
    1.03× under the same skew, bit-identical output, and 4× faster
    even on uniform data. t15 stays registered, slot and oracle
    unchanged, precisely so the pathology and its fix remain a
    measured, regression-checked pair.
    """
    base = read_events_stream_chunked(
        spark, sf_dir, n_chunks=T15_CHUNKS, order="time"
    )
    signups = (
        base.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", T15_DELAY)
    )
    purchases = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=T15_CHUNKS, order="time")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", T15_DELAY)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    daily = joined.groupBy(F.window("p_ts", "1 day")).agg(
        F.count("*").alias("n_pairs"), F.sum(cents).alias("total_cents")
    )
    out = spark.table(run_stream(daily, "memory", "append").name)
    return out.select(
        F.col("window.start").alias("day_start"), "n_pairs", "total_cents"
    )


# --- T19: skew-resistant (time-bucketed) stream-stream interval join --------

T19_BUCKET_S = 7200  # = the 2 h interval span, so a pair spans ≤ 2 buckets


@query(
    "t19_bucketed_interval_join",
    oracle=f"""
WITH c AS (
  SELECT ts, event_id, user_id, event_type, value,
         ntile({T15_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT least(
           (SELECT max(ts) FROM c WHERE chunk <= {T15_CHUNKS - 2}
            AND event_type = 'signup'),
           (SELECT max(ts) FROM c WHERE chunk <= {T15_CHUNKS - 2}
            AND event_type = 'purchase')
         ) - INTERVAL 4 HOUR AS w
),
pairs AS (
  SELECT p.ts AS pts, p.value AS value
  FROM c s JOIN c p
    ON s.user_id = p.user_id
   AND s.event_type = 'signup' AND p.event_type = 'purchase'
   AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
)
SELECT date_trunc('day', pts) AS day_start,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM pairs, wm
WHERE date_trunc('day', pts) + INTERVAL 1 DAY <= wm.w
GROUP BY day_start
""",
)
def t19_bucketed_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15's interval join made HOT-KEY-SAFE: the r10 skew rung
    measured t15 at ≥15× its uniform wall when one user owns 10% of
    events, because stream-stream join state is keyed by the EQUALITY
    columns only (user_id) — the time-interval condition filters
    AFTER the state lookup, so every hot-key arrival rescans every
    buffered hot-key row: O(hot²) comparisons, serialized on the hot
    key's single state partition.

    The lossless rewrite buckets event time at the interval span
    (2 h) and puts the bucket INTO the join key: a valid pair has
    p_ts ∈ [s_ts, s_ts+2h], hence floor(p/τ) − floor(s/τ) ∈ {{0, 1}}
    for τ = the 2 h span — so the purchase side probes exactly two
    buckets (its own and the previous) via a 2-row explode, the join
    keys on (user, bucket), and each pair matches in EXACTLY one
    bucket (the signup's own), so no dedup is needed and the emitted
    pairs — and the daily rollup the join feeds — are bit-identical
    to t15's, which is why the oracle is t15's verbatim. State scans
    drop from O(all buffered rows per user) to O(rows per user per
    2 h bucket), and the hot user's state spreads over timeline
    buckets instead of one state partition. Cost on uniform data: 2×
    the probe-side rows through the join shuffle (cheap, measured in
    the skew table); the watermark columns, delays, eager inner-join
    emission, and the final W cut are unchanged, so the replay
    mechanics oracle transfers unchanged.

    Bucket arithmetic uses integer epoch SECONDS (unix_timestamp):
    bucket boundaries sit on whole-second multiples of τ, so the
    µs-truncation can never move a row across a boundary.
    """
    base = read_events_stream_chunked(
        spark, sf_dir, n_chunks=T15_CHUNKS, order="time"
    )
    bkt = lambda col: F.floor(F.unix_timestamp(F.col(col)) / T19_BUCKET_S)  # noqa: E731
    signups = (
        base.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
        .withColumn("s_bucket", bkt("s_ts"))
        .withWatermark("s_ts", T15_DELAY)
    )
    purchases = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=T15_CHUNKS, order="time")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withColumn(
            "p_bucket",
            F.explode(F.array(bkt("p_ts"), bkt("p_ts") - F.lit(1))),
        )
        .withWatermark("p_ts", T15_DELAY)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("s_bucket") == F.col("p_bucket"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    daily = joined.groupBy(F.window("p_ts", "1 day")).agg(
        F.count("*").alias("n_pairs"), F.sum(cents).alias("total_cents")
    )
    out = spark.table(run_stream(daily, "memory", "append").name)
    return out.select(
        F.col("window.start").alias("day_start"), "n_pairs", "total_cents"
    )


# --- T16: chained stateful III — union -> watermarked dedup -> window agg ----

T16_CHUNKS = 4


@query(
    "t16_union_dedup_window",
    oracle=f"""
WITH c AS (
  SELECT ts, event_id,
         ntile({T16_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM c WHERE chunk <= {T16_CHUNKS - 2}
)
SELECT date_trunc('day', ts) AS day_start, CAST(count(*) AS BIGINT) AS n_events
FROM c, wm
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY day_start
""",
)
def t16_union_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third chained-stateful pair (t14 agg→agg, t15 join→agg):
    a streaming UNION of two replays of the same topic — the redundant-
    consumer / at-least-once delivery scenario — piped through
    ``dropDuplicatesWithinWatermark`` on the message key and then a
    stateful 1-day window count, all in one query.

    Mechanics (measured): both union branches read the same chunk
    sequence in lockstep, so each duplicate pair lands in one
    micro-batch and the dedup state answers it immediately; survivors
    flow into the aggregation within the same batch and the only cut
    is the familiar day_end ≤ W_final (max ts through chunk n−2 minus
    the 30-min delay). The oracle is therefore just DISTINCT events
    (the fixture's event_ids are unique — exactly-once recovery of an
    at-least-twice stream) rolled up by day under that cut.

    Scale: dedup state is watermark-bounded (WithinWatermark evicts
    expired keys), the union is free (no shuffle — both branches feed
    the same stage), and the agg state is days × 1 row. This is the
    canonical exactly-once ingest front: dedupe the redundant consumer
    group, aggregate once, never store the raw duplicates.
    """
    s1 = read_events_stream_chunked(spark, sf_dir, n_chunks=T16_CHUNKS, order="time")
    s2 = read_events_stream_chunked(spark, sf_dir, n_chunks=T16_CHUNKS, order="time")
    dedup = (
        s1.union(s2)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    daily = dedup.groupBy(F.window("ts", "1 day")).agg(
        F.count("*").alias("n_events")
    )
    out = spark.table(run_stream(daily, "memory", "append").name)
    return out.select(F.col("window.start").alias("day_start"), "n_events")


# --- J10c: stream-stream LEFT OUTER with measured-mechanics full oracle ------

J10C_CHUNKS = 4


@query(
    "j10c_stream_outer_oracle",
    oracle=f"""
WITH c AS (
  SELECT ts, event_id, user_id, event_type, value,
         ntile({J10C_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT least(
           (SELECT max(ts) FROM c WHERE chunk <= {J10C_CHUNKS - 2}
            AND event_type = 'signup'),
           (SELECT max(ts) FROM c WHERE chunk <= {J10C_CHUNKS - 2}
            AND event_type = 'purchase')
         ) - INTERVAL 4 HOUR AS w
),
s AS (SELECT user_id, ts AS s_ts FROM c WHERE event_type = 'signup'),
p AS (SELECT user_id, ts AS p_ts, value FROM c WHERE event_type = 'purchase'),
matched AS (
  SELECT s.user_id,
         date_trunc('second', s.s_ts) AS signup_ts,
         date_trunc('second', p.p_ts) AS purchase_ts,
         round(p.value, 4) AS value
  FROM s JOIN p ON s.user_id = p.user_id
   AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 2 HOUR
),
nulls AS (
  SELECT u.user_id,
         date_trunc('second', u.s_ts) AS signup_ts,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS value
  FROM s u, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p WHERE p.user_id = u.user_id
           AND p.p_ts >= u.s_ts AND p.p_ts <= u.s_ts + INTERVAL 2 HOUR)
    AND u.s_ts + INTERVAL 2 HOUR < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM nulls
""",
)
def j10c_stream_outer_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j10b's LEFT OUTER stream-stream join, pinned to a FULL oracle by
    the t15 measured-mechanics method (j10b itself stays rows-only as
    the semantics-test demonstrator).

    Measured (sf0.001/0.01/0.1): matched rows are exactly the inner
    join (emitted eagerly when the later side arrives); a null-padded
    row emits for an unmatched signup once the watermark proves no
    match can come — i.e. iff s_ts + 2h (the interval's upper bound)
    < W_final, the last batch's eviction watermark (min of the two
    sides' chunk-(n−2) maxima − the 4 h delay). Signups unmatched but
    still inside their join window at end-of-replay are withheld —
    at sf0.01 that splits 1,462 emitted nulls from 1,955 unmatched
    signups, so the oracle's cut is doing real work, not rubber-
    stamping the batch outer join.

    Scale — DOCUMENTED NEGATIVE CONTROL like t15 (r11 disposition):
    state keyed by user_id only, measured **745.1 s at skew-30× vs
    19.8 s uniform (37.6×)** under a 10%-hot user — the O(hot²)
    symmetric-hash rescan, serialized on one state partition.
    j10d_bucketed_outer_join is the lossless production form
    (row-identical output, 16.3 s on the same skew replay, 2.2×
    faster even uniform). Slot and oracle deliberately retained so
    the pathology/fix pair stays regression-checked — BASELINE.md
    "Round-11 streaming-state skew".
    """
    signups = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=J10C_CHUNKS, order="time")
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=J10C_CHUNKS, order="time")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    ).select(
        "user_id",
        F.date_trunc("second", "s_ts").alias("signup_ts"),
        F.date_trunc("second", "p_ts").alias("purchase_ts"),
        F.round("value", 4).alias("value"),
    )
    return spark.table(run_stream(joined, "memory", "append").name)


# --- J10d: skew-resistant (time-bucketed) stream-stream LEFT OUTER join ------


@query(
    "j10d_bucketed_outer_join",
    oracle=f"""
WITH c AS (
  SELECT ts, event_id, user_id, event_type, value,
         ntile({J10C_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
),
wm AS (
  SELECT least(
           (SELECT max(ts) FROM c WHERE chunk <= {J10C_CHUNKS - 2}
            AND event_type = 'signup'),
           (SELECT max(ts) FROM c WHERE chunk <= {J10C_CHUNKS - 2}
            AND event_type = 'purchase')
         ) - INTERVAL 4 HOUR AS w
),
s AS (SELECT user_id, ts AS s_ts FROM c WHERE event_type = 'signup'),
p AS (SELECT user_id, ts AS p_ts, value FROM c WHERE event_type = 'purchase'),
matched AS (
  SELECT s.user_id,
         date_trunc('second', s.s_ts) AS signup_ts,
         date_trunc('second', p.p_ts) AS purchase_ts,
         round(p.value, 4) AS value
  FROM s JOIN p ON s.user_id = p.user_id
   AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 2 HOUR
),
nulls AS (
  SELECT u.user_id,
         date_trunc('second', u.s_ts) AS signup_ts,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS value
  FROM s u, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p WHERE p.user_id = u.user_id
           AND p.p_ts >= u.s_ts AND p.p_ts <= u.s_ts + INTERVAL 2 HOUR)
    AND u.s_ts + INTERVAL 2 HOUR < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM nulls
""",
)
def j10d_bucketed_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j10c's LEFT OUTER stream-stream join made hot-key-safe by the
    t19 rewrite (VERDICT r10 item 3: j10b/j10c buffer state keyed by
    user_id only — exactly t15's measured O(hot²) pathology shape):
    event time floors to the 2 h interval span, the bucket goes INTO
    the equality key, and the PROBE (purchase) side explodes to
    {{bucket, bucket−1}} so every valid pair meets in exactly the
    signup's bucket.

    Outer-emission mechanics RE-MEASURED for the bucketed key (not
    assumed from j10c): matched rows are the inner join, emitted
    eagerly when the later side arrives — identical to j10c because
    each pair matches in exactly one bucket and the signup side is
    never exploded (one state row per signup → at most one null row).
    The null-row cut is unchanged too — measured at sf0.001/0.01/0.1,
    a null emits iff s_ts + 2h (the interval upper bound) < W_final —
    because Spark derives the signup side's eviction predicate from
    the TIME-RANGE condition, and the added bucket equality is a
    strictly-finer state partitioning of the same rows, not a new
    time bound. Hence j10c's measured-mechanics oracle verbatim.

    Scale: hot-user state spreads across timeline buckets (state scans
    O(rows per user per 2 h bucket)); cost is the 2× probe-side
    explode, same trade t19 measured at 1.03× under a 10%-hot user
    where t15 aborted.
    """
    bkt = lambda col: F.floor(F.unix_timestamp(F.col(col)) / T19_BUCKET_S)  # noqa: E731
    signups = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=J10C_CHUNKS, order="time")
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withColumn("s_bucket", bkt("s_ts"))
        .withWatermark("s_ts", "4 hours")
    )
    purchases = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=J10C_CHUNKS, order="time")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withColumn(
            "p_bucket",
            F.explode(F.array(bkt("p_ts"), bkt("p_ts") - F.lit(1))),
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("s_bucket") == F.col("p_bucket"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    ).select(
        "user_id",
        F.date_trunc("second", "s_ts").alias("signup_ts"),
        F.date_trunc("second", "p_ts").alias("purchase_ts"),
        F.round("value", 4).alias("value"),
    )
    return spark.table(run_stream(joined, "memory", "append").name)


# --- S15: dead-letter routing (contract-validated side outputs) ---------------

# The MQ-consumer pattern every production pipeline grows on day two:
# payloads that violate the ingest contract must not poison the main
# table OR be dropped — they route to a dead-letter store with a
# machine-readable reason, while clean records flow on. Contract here:
# props must carry an integer k with 0 <= k <= 79 (the fixture's k is
# uniform 0..99, so ~20% of traffic violates — the cut is non-vacuous).
S15_K_MAX = 79


@query(
    "s15_stream_dead_letter",
    oracle=f"""
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
),
routed AS (
  SELECT event_type,
         CASE WHEN k IS NULL THEN 'dlq'
              WHEN k > {S15_K_MAX} THEN 'dlq'
              ELSE 'main' END AS route,
         CASE WHEN k IS NULL THEN 'missing_k'
              WHEN k > {S15_K_MAX} THEN 'k_out_of_range'
              ELSE 'ok' END AS reason,
         k
  FROM parsed
)
SELECT route, reason, event_type, count(*) AS n,
       CAST(coalesce(sum(CASE WHEN route = 'main' THEN k END), 0) AS BIGINT)
         AS sum_k_main
FROM routed
GROUP BY route, reason, event_type
""",
)
def s15_stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter routing: each micro-batch is validated
    against the payload contract and split — clean records to the main
    store, violations to the DLQ store WITH their reason — inside one
    foreachBatch. Each epoch writes to an epoch-keyed subdirectory
    with mode=overwrite, so a RETRIED epoch replaces its own output
    instead of duplicating rows (true exactly-once-by-epoch; the r5
    advice caught the earlier flat append, which was only
    exactly-once absent retries). The returned frame re-reads both
    stores (the ``__epoch=N`` dirs surface as a partition column) and
    aggregates per (route, reason, event_type), so the oracle checks
    that routing lost nothing and mis-routed nothing.

    Scale shape: validation is a per-row codegen projection; each sink
    write is an append of that batch's partition slice — no shuffle,
    no state store. At 100 TB the DLQ side is ~contract-violation-rate
    of traffic and both stores stay partition-parallel; replaying a
    poisoned batch is a DLQ-side filter, never an ingest stall.
    """
    import tempfile

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    main_store = tempfile.mkdtemp(prefix="sparkgraft_s15_main_")
    dlq_store = tempfile.mkdtemp(prefix="sparkgraft_s15_dlq_")

    reason = (
        F.when(F.col("k").isNull(), F.lit("missing_k"))
        .when(F.col("k") > S15_K_MAX, F.lit("k_out_of_range"))
        .otherwise(F.lit("ok"))
    )

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        import os as _os

        tagged = batch_df.withColumn("reason", reason)
        # epoch-keyed dir + overwrite: a retried epoch replaces its own
        # prior (possibly partial) output — idempotent, like s7's
        # epoch-compacted upsert log but enforced at the storage layout
        tagged.filter(F.col("reason") == "ok").write.mode("overwrite").parquet(
            _os.path.join(main_store, f"__epoch={epoch_id}")
        )
        tagged.filter(F.col("reason") != "ok").write.mode("overwrite").parquet(
            _os.path.join(dlq_store, f"__epoch={epoch_id}")
        )

    run_stream(stream, route, state_partitions=None)

    main = (
        spark.read.parquet(main_store)
        .withColumn("route", F.lit("main"))
    )
    dlq = spark.read.parquet(dlq_store).withColumn("route", F.lit("dlq"))
    both = main.unionByName(dlq)
    return both.groupBy("route", "reason", "event_type").agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("route") == "main", F.col("k"))), F.lit(0)
        )
        .cast("long")
        .alias("sum_k_main"),
    )


# --- T17: streaming last-touch attribution (stateful, batch-equivalent) -------

T17_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # the 7-day attribution window

@query(
    "t17_stream_attribution",
    oracle=f"""
WITH seq AS (
  SELECT event_id, user_id, ts, event_type,
         max(CASE WHEN event_type IN ('click', 'view')
                  THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch_us
  FROM events
)
SELECT event_id, user_id,
       date_trunc('second', ts) AS purchase_ts,
       CASE WHEN touch_us IS NOT NULL
              AND epoch_us(ts) - touch_us <= {7 * 24 * 3600 * 1_000_000}
            THEN epoch_us(ts) - touch_us END AS gap_us,
       (touch_us IS NOT NULL
          AND epoch_us(ts) - touch_us <= {7 * 24 * 3600 * 1_000_000}) AS attributed
FROM seq
WHERE event_type = 'purchase'
""",
)
def t17_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e6's last-touch attribution as a STREAMING stateful operator:
    per-user "latest qualifying touch" carried across micro-batches in
    ``applyInPandasWithState`` (one long per user — the smallest
    possible state), purchases emitted as they arrive. With the
    pinned time-ordered replay, every event preceding a purchase in
    (ts, event_id) order is in an earlier batch or sorted earlier
    within its batch, so the emitted set is EXACTLY the batch window
    semantics — the oracle is e6's, unchanged: a live demonstration of
    the stream/batch equivalence the operator pair claims.

    Scale: state is 8 bytes/user vs t7's session struct; emission is
    append-mode per arriving purchase, so latency is per-batch, not
    end-of-stream. The touch-window filter stays JVM-side."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "user_id", "ts", "event_id", "event_type"
    )

    def attribute(key, pdf_iter, state: GroupState):
        # SHARD-keyed state (r14, the t7/s21/s19 layout): one state
        # group per hash shard with each shard user's latest-touch
        # long in parallel arrays — per-user groups paid one python
        # call + state ser/de per user per batch. Rows sorted
        # (user_id, ts, event_id): every user sees the identical
        # event order, so the emitted rows — and the batch-window
        # oracle — are unchanged.
        (_shard,) = key
        touch_by: dict[int, int] = {}
        max_us = -(1 << 62)
        if state.exists:
            uids_a, touch_a, max_us = state.get
            touch_by = dict(zip(uids_a, touch_a))
        out: list[tuple] = []
        chunks = list(pdf_iter)
        for pdf in (
            [pd.concat(chunks).sort_values(["user_id", "ts", "event_id"])]
            if chunks
            else []
        ):
            for uid, ts, eid, etype in zip(
                pdf["user_id"], pdf["ts"], pdf["event_id"], pdf["event_type"]
            ):
                uid = int(uid)
                us = int(ts.value // 1000)  # pandas ns -> µs
                if etype == "purchase":
                    touch = touch_by.get(uid, -1)
                    out.append((int(eid), uid, us, touch if touch >= 0 else None))
                elif etype in ("click", "view"):
                    touch_by[uid] = us
                if us > max_us:
                    max_us = us
        # EVICTION (r15, VERDICT item 3): a touch strictly older than
        # the attribution window behind the shard's max seen event time
        # can never attribute again — the time-ordered replay
        # guarantees every future event's ts >= this batch's max (ties
        # allowed, hence STRICT >), so a future purchase's gap would
        # exceed the window and the JVM-side filter emits it exactly
        # as if the touch were absent (gap_us NULL, attributed false).
        # Per-batch shard ser/de then tracks LIVE touches, not every
        # user ever seen (the corpus spans ~30 days vs the 7-day
        # window).
        cutoff = max_us - T17_WINDOW_US
        uids_o = sorted(u for u, t in touch_by.items() if t >= cutoff)
        state.update((uids_o, [touch_by[u] for u in uids_o], max_us))
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "purchase_us", "touch_us"]
            )

    raw = (
        stream.withColumn("shard", F.pmod("user_id", F.lit(64)))
        .groupBy("shard")
        .applyInPandasWithState(
            attribute,
            outputStructType=(
                "event_id long, user_id long, purchase_us long, touch_us long"
            ),
            stateStructType="uids array<long>, touch array<long>, max_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    res = spark.table(run_stream(raw, "memory", "append").name)
    gap = F.col("purchase_us") - F.col("touch_us")
    in_window = F.col("touch_us").isNotNull() & (gap <= 7 * 24 * 3600 * 1_000_000)
    return res.select(
        "event_id",
        "user_id",
        F.date_trunc("second", F.timestamp_micros("purchase_us")).alias("purchase_ts"),
        F.when(in_window, gap).alias("gap_us"),
        in_window.alias("attributed"),
    )


# --- S16: offset seek (consume from a saved position) -------------------------

S16_SEEK_CHUNK = 2  # first chunk (micro-batch) to consume, 0-based


@query(
    "s16_stream_seek_offset",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value,
         NTILE(4) OVER (ORDER BY ts, event_id) - 1 AS chunk
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM ranked WHERE chunk >= {S16_SEEK_CHUNK}
GROUP BY event_type
""",
)
def s16_stream_seek_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MQ consumer's `seek(offset)`: resume consumption from a
    saved position instead of the beginning — here, replay only the
    chunk files at or past S16_SEEK_CHUNK (each chunk = one
    micro-batch = one committed offset range, exactly how the file
    source's checkpoint stores progress and how a kafka consumer
    stores partition offsets). The aggregate over the consumed suffix
    carries a full oracle because chunk membership is the exact ntile
    split (ANSI-SQL-expressible, the t14 mechanism).

    Scale note: seeking is O(1) — the source lists only the files past
    the position; no data before the offset is read at all (the whole
    point of offset-based resumption on a 100 TB backlog)."""
    from sparkstreaming_mq_spark.streaming.sources import (
        EVENTS_STREAM_SCHEMA,
        chunked_events_dir,
    )
    from sparkstreaming_mq_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    base = chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
    # consume only chunks >= the seek position (glob char class)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{base}/chunk_00[{S16_SEEK_CHUNK}-9]")
        .select("event_type", "value")
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "total_cents"
        ),
    )
    return spark.table(run_stream(agg, "memory", "complete").name)


# --- S17: streaming ingest-integrity fingerprint ------------------------------


def _s17_oracle() -> str:
    from sparkstreaming_mq_spark.operators.audit import X4_BUCKETS
    from sparkstreaming_mq_spark.operators.curation import _md5_int32_sql

    payload = (
        "CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)"
        " || '|' || event_type || '|' ||"
        " CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR)"
    )
    return f"""
WITH h AS (
  SELECT ({_md5_int32_sql(payload)}) AS h32 FROM events
)
SELECT h32 % {X4_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h32) AS BIGINT) AS xor_fp,
       CAST(sum(h32) AS BIGINT) AS sum_fp
FROM h GROUP BY 1
"""


@query("s17_stream_fingerprint", oracle=_s17_oracle())
def s17_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest-integrity fingerprint: the streaming twin of
    x4_table_fingerprint. Each micro-batch folds its rows into 64
    bucketed (count, XOR, SUM) hash summaries; per-epoch partials land
    in an epoch-keyed store (idempotent on retry — the s7/s15 delivery
    pattern) and MERGE by pure re-aggregation: counts and sums add,
    XORs xor — the mergeability x4's docstring promises, exercised here
    across real micro-batch boundaries. When the stream drains, the
    merged fingerprint must equal the batch fingerprint of everything
    ingested, which is exactly what the oracle checks (full in-order
    replay => prefix-complete => SQL-expressible, per the repo's
    streaming-oracle rules). At 100 TB this is how a sink proves
    exactly-once delivery against its source without a row-level diff:
    ship the 64-triple fingerprint, not the data."""
    import tempfile

    from sparkstreaming_mq_spark.operators.audit import fingerprint_fold

    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "event_id", "user_id", "event_type", "value"
    )
    # F.concat (NULL-propagating) to match the oracle's '||' — see
    # x4_table_fingerprint's payload comment (ADVICE r7).
    payload = F.concat(
        F.col("event_id").cast("string"),
        F.lit("|"),
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.col("event_type"),
        F.lit("|"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
    )
    store = tempfile.mkdtemp(prefix="sparkgraft_fp_")

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        # the ONE fingerprint recipe, shared with x4 (audit.py) — the
        # streaming==batch equality claim depends on it
        (
            fingerprint_fold(batch_df, payload)
            .withColumn("__epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(store)
        )

    run_stream(stream, fold, state_partitions=None)
    log = spark.read.parquet(store)
    # retry idempotence: one partial per (epoch, bucket) — duplicates
    # from replayed epochs collapse before the merge
    partials = log.dropDuplicates(["__epoch", "bucket"])
    return partials.groupBy("bucket").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.bit_xor("xor_fp").cast("long").alias("xor_fp"),
        F.sum("sum_fp").cast("long").alias("sum_fp"),
    )


# --- S18: streaming OHLC bars (the MQ -> bars pipeline) ------------------------


@query(
    "s18_stream_ohlc",
    oracle="""
WITH numbered AS (
  SELECT event_type, date_trunc('day', ts) AS bar_start, value,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS u,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bar_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(u) AS BIGINT) / 1000000.0 AS volume
FROM numbered
GROUP BY event_type, bar_start
""",
)
def s18_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC daily bars per event type — the canonical
    MQ-consumer pipeline (tick stream in, bars out), the streaming twin
    of the batch ts2_ohlc_bars (operators/timeseries.py).

    Open/close are ``min_by``/``max_by`` over the unique composite key
    struct(ts, event_id) — an order-insensitive declarative aggregate,
    so the streaming state is O(1) per bar (six scalars), merges
    associatively across micro-batches, and needs NO per-window sort or
    ranking: exactly how you'd hold live bars on a 1000-executor
    cluster. Complete mode over the full 4-chunk replay is
    prefix-complete, hence the batch-expansion SQL oracle (the t2
    equivalence argument); the oracle selects the same rows by
    row_number because the key is collision-free. Doubles are raw
    selections; volume is the exact micro-unit BIGINT sum."""
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    key = F.struct(F.col("ts"), F.col("event_id"))
    u = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    agg = stream.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count("*").cast("long").alias("n_events"),
        F.sum(u).alias("_vu"),
    )
    out = spark.table(run_stream(agg, "memory", "complete").name)
    return out.select(
        "event_type",
        F.col("window.start").alias("bar_start"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
        (F.col("_vu") / F.lit(1000000.0)).alias("volume"),
    )


# --- S19: streaming gap-fill (stateful ROW GENERATION) -------------------------


@query(
    "s19_stream_gapfill",
    oracle="""
WITH obs AS (
  SELECT user_id,
         epoch_us(ts) // 3600000000 AS hnum,
         CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS units
  FROM events
  GROUP BY 1, 2
),
led AS (
  SELECT user_id, hnum, n_at, units,
         lead(hnum)    OVER (PARTITION BY user_id ORDER BY hnum) AS nh,
         lead(units)   OVER (PARTITION BY user_id ORDER BY hnum) AS nv,
         lead(hnum, 2) OVER (PARTITION BY user_id ORDER BY hnum) AS nh2
  FROM obs
),
grid AS (
  SELECT user_id, hnum, n_at, units, nh, nv, nh2,
         unnest(generate_series(hnum, nh - 1)) AS hour_num
  FROM led
  WHERE nh IS NOT NULL
)
SELECT user_id, hour_num,
       CASE WHEN hour_num = hnum THEN n_at ELSE 0 END AS n_obs,
       CAST(units AS DOUBLE) / 1000000.0 AS locf_val,
       CASE WHEN hour_num = hnum THEN CAST(units AS DOUBLE) / 1000000.0
            ELSE (CAST(units AS DOUBLE)
                  + CAST(nv - units AS DOUBLE)
                    * CAST(hour_num - hnum AS DOUBLE)
                    / CAST(nh - hnum AS DOUBLE)) / 1000000.0
       END AS interp_val
FROM grid
WHERE hour_num = hnum OR nh2 IS NOT NULL
""",
)
def s19_stream_gapfill(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Streaming gap-fill: a stateful operator that GENERATES rows —
    each user's dense hourly LOCF/interpolated grid is emitted
    incrementally as the stream closes each gap (the streaming twin of
    the batch ts1_gapfill_interp, and the row-generating complement of
    t7's row-collapsing sessionizer).

    Per-user state is O(1) but TWO-slotted: the last CLOSED hour and
    the currently OPEN hour. An hour closes when its successor first
    arrives (time-ordered replay: no more events for a passed hour),
    and emits its own observation row then — but the gap rows it
    bounds on the left are held until the RIGHT endpoint also closes,
    because a micro-batch boundary can split an hour and the
    interpolation target must be the hour's FINAL sum, not a partial
    (the first cut of this operator emitted on first-arrival and
    measured exactly that defect: 36 gap rows at sf0.01 interpolated
    toward a partial endpoint). Hours that straddle a batch boundary
    merge into the open slot instead of emitting.

    Like t22/s21, a STATELESS mapInPandas pre-sums (user, hour) →
    (count, micro-units) partials per scan partition BEFORE the user
    exchange (the hand-built map-side combine stateful ops don't get):
    both per-hour aggregates are additive integers, so the kernel
    folds partials exactly as it folded raw events and the emitted
    grid — hence the oracle — is unchanged. State-exchange traffic
    drops from O(events) rows to O(scan partitions × users × hours).

    With no AvailableNow trailing flush (measured, t7), the emitted
    set is the batch grid minus each user's final observation row AND
    final gap run (its right endpoint never closes) — the
    ``hour_num = hnum OR nh2 IS NOT NULL`` cut in the oracle, verified
    non-vacuous in pytest. Interpolation runs float(int)-cast
    multiply-then-divide in the SAME IEEE order as both engines'
    CAST-DOUBLE expressions; sums are exact integer micro-units
    (never-round-in-pandas rule), so the full value hash matches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=n_chunks, order="time"
    ).select("user_id", "ts", "value")

    # Row generation is OUTPUT-dominated, the opposite cost profile of
    # the tiny-state aggregates the 2-partition fixture profile was
    # laddered for — at the 10x corpus parallel generation/encode wins
    # big (r7 ladder: 2 partitions 112 s, 8 -> 33 s, 32 -> 16 s). But
    # the r13 stage profile measured today's micro-batch stages 99%
    # WAIT (runTime 70-500 s vs cpuTime 1.5-8 s, zero spill): each
    # state partition pays a fixed per-micro-batch worker/store wait,
    # so at sf0.1 a frozen 32 was paying 128 waits to encode 2 MB per
    # batch — the interleaved fresh-session ladder read 32 parts at
    # 19.6-35.8 s vs 8-16 parts at 8.4-16.2 s (medians). Size the
    # count to the input instead: ~12.5k events per state partition,
    # clamped to [4, 32] — sf0.1 -> 8, the 10x corpus -> 32 (both
    # regimes keep their measured winner). Env override for ladders;
    # a real cluster sizes this to its parallelism before first run
    # (frozen into the checkpoint).
    import os as _s19_os

    from sparkstreaming_mq_spark.tables import table_rowcount as _rowcount

    _parts_env = _s19_os.environ.get("SPARK_GRAFT_S19_PARTS")
    if _parts_env is not None:
        S19_STATE_PARTITIONS = int(_parts_env)
    else:
        S19_STATE_PARTITIONS = min(
            32, max(4, _rowcount(sf_dir, "events") // 12_500)
        )

    US_HOUR = 3_600_000_000
    NO_PREV = -1  # sentinel: no closed hour in state yet

    import numpy as np

    def presum(batch_iter):
        # stateless per-PARTITION (user, hour) partials — count AND
        # exact micro-unit sum, both additive integers — accumulated
        # across the Arrow batch iterator and emitted ONCE per
        # partition (_a18_partials-style), so the state exchange moves
        # O(scan partitions × users × hours) rows, never O(events) and
        # never × Arrow-batch count. Compress bound as in t22/s21.
        acc_uid: list = []
        acc_hs: list = []
        acc_n: list = []
        acc_u: list = []
        acc_len = 0

        def _fold():
            uid = np.concatenate(acc_uid)
            hs = np.concatenate(acc_hs)
            n = np.concatenate(acc_n)
            u = np.concatenate(acc_u)
            order = np.lexsort((hs, uid))
            uid, hs, n, u = uid[order], hs[order], n[order], u[order]
            nb = np.ones(len(uid), dtype=bool)
            nb[1:] = (uid[1:] != uid[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            return (
                uid[i],
                hs[i],
                np.add.reduceat(n, i).astype("int64"),
                np.add.reduceat(u, i).astype("int64"),
            )

        for pdf in batch_iter:
            if not len(pdf):
                continue
            # tz-aware pandas ts -> UTC ns int64 (same epoch µs t7
            # reads per-element via .value)
            hs = np.asarray(
                pdf["ts"].values, dtype="datetime64[ns]"
            ).astype("int64") // (US_HOUR * 1000)
            uid = pdf["user_id"].to_numpy(np.int64)
            # floor per EVENT (the engines' expression), then exact
            # integer partial sums — order-free
            us = np.floor(
                pdf["value"].to_numpy(dtype="float64") * 1000000 + 0.5
            ).astype("int64")
            order = np.lexsort((hs, uid))
            uid, hs, us = uid[order], hs[order], us[order]
            nb = np.ones(len(uid), dtype=bool)
            nb[1:] = (uid[1:] != uid[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            acc_uid.append(uid[i])
            acc_hs.append(hs[i])
            acc_n.append(np.diff(np.append(i, len(uid))).astype("int64"))
            acc_u.append(np.add.reduceat(us, i).astype("int64"))
            acc_len += len(i)
            if acc_len > 2_000_000:
                fu, fh, fn, fv = _fold()
                acc_uid[:], acc_hs[:] = [fu], [fh]
                acc_n[:], acc_u[:] = [fn], [fv]
                acc_len = len(fu)
        if acc_uid:
            fu, fh, fn, fv = _fold()
            yield pd.DataFrame(
                {"user_id": fu, "hnum": fh, "n": fn, "u": fv}
            )

    partials = stream.mapInPandas(
        presum, schema="user_id long, hnum long, n long, u long"
    )

    def gapfill(key, pdf_iter, state: GroupState):
        # Vectorized kernel: the first cut looped python-per-event and
        # appended python tuples per OUTPUT row — at the 10x smoke that
        # is 1M scalar iterations + 36.7M tuple appends, measured 133 s
        # wall. Hour aggregation and gap-run generation now run in
        # numpy; the remaining python loop is one step per DISTINCT
        # hour per batch (calendar-bounded). Bit parity is preserved:
        # the per-event floor runs in the presum combiner (np.floor on
        # float64 is elementwise-identical to math.floor), and the
        # interp expression keeps the exact operand order of both
        # engines' CAST-DOUBLE arithmetic.
        # SHARD-keyed state (r14, the t22/s21 layout): one state group
        # per hash shard holding every shard user's five scalars as
        # parallel arrays. Keying by user_id paid one python call +
        # state ser/de per user per batch (~15k groups at sf0.1); the
        # shard kernel walks the same (user, hour) partials in the
        # same per-user ascending-hour order, so the emitted grid —
        # and the oracle — are unchanged.
        (_shard,) = key
        su: dict[int, list] = {}  # uid -> [ph, pu, oh, ou, on]
        if state.exists:
            uids_a, ph_a, pu_a, oh_a, ou_a, on_a = state.get
            for u_id, p0, p1, o0, o1, o2 in zip(
                uids_a, ph_a, pu_a, oh_a, ou_a, on_a
            ):
                su[u_id] = [p0, p1, o0, o1, o2]
        # fold this micro-batch's (user, hour, n, units) partials from
        # different scan partitions (order-free integer sums), then
        # walk per user in ascending hour order (lexsort runs)
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            uid_r = pdf["user_id"].to_numpy(np.int64)
            hs = pdf["hnum"].to_numpy(np.int64)
            ns = pdf["n"].to_numpy(np.int64)
            us = pdf["u"].to_numpy(np.int64)
            order = np.lexsort((hs, uid_r))
            uid_r, hs, ns, us = uid_r[order], hs[order], ns[order], us[order]
            nb = np.ones(len(uid_r), dtype=bool)
            nb[1:] = (uid_r[1:] != uid_r[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            uid_k = uid_r[i]
            hour_keys = hs[i]
            n_per = np.add.reduceat(ns, i).astype("int64")
            u_per = np.add.reduceat(us, i).astype("int64")
        else:
            uid_k = hour_keys = np.empty(0, dtype="int64")
            n_per = u_per = hour_keys
        obs_rows: list[tuple] = []      # (uid, hour, n, units) per closed hour
        gap_runs: list[tuple] = []      # (uid, ph, pu, oh, ou) per closed run
        n_gap = 0
        for u_id, h, u_h, n_h in zip(
            uid_k.tolist(), hour_keys.tolist(), u_per.tolist(), n_per.tolist()
        ):
            st = su.get(u_id)
            if st is None:
                su[u_id] = [NO_PREV, 0, h, u_h, n_h]
                continue
            ph, pu, oh, ou, on = st
            if h == oh:
                # the open hour straddles a batch boundary: merge
                st[3] = ou + u_h
                st[4] = on + n_h
            else:
                # the open hour closes: emit its observation row, and
                # the gap run it terminates (endpoints now both final)
                obs_rows.append((u_id, oh, on, ou))
                if ph != NO_PREV and oh - ph > 1:
                    gap_runs.append((u_id, ph, pu, oh, ou))
                    n_gap += oh - ph - 1
                st[0], st[1] = oh, ou
                st[2], st[3], st[4] = h, u_h, n_h
        uids_o = sorted(su)
        state.update(
            (
                uids_o,
                [su[u][0] for u in uids_o],
                [su[u][1] for u in uids_o],
                [su[u][2] for u in uids_o],
                [su[u][3] for u in uids_o],
                [su[u][4] for u in uids_o],
            )
        )
        n_out = len(obs_rows) + n_gap
        if not n_out:
            return
        user_a = np.empty(n_out, dtype="int64")
        hour_a = np.empty(n_out, dtype="int64")
        nobs_a = np.zeros(n_out, dtype="int64")
        locf_a = np.empty(n_out, dtype="float64")
        intp_a = np.empty(n_out, dtype="float64")
        i = 0
        for u_id, h, n_h, u_h in obs_rows:
            user_a[i] = u_id
            hour_a[i] = h
            nobs_a[i] = n_h
            locf_a[i] = intp_a[i] = float(u_h) / 1000000.0
            i += 1
        for u_id, gph, gpu, goh, gou in gap_runs:
            g = np.arange(gph + 1, goh, dtype="int64")
            k = len(g)
            user_a[i : i + k] = u_id
            hour_a[i : i + k] = g
            locf_a[i : i + k] = float(gpu) / 1000000.0
            # same operand order as the engines' CAST-DOUBLE expression:
            # pu + (ou-pu) * (g-ph) / (oh-ph), all float64, then /1e6
            intp_a[i : i + k] = (
                float(gpu)
                + float(gou - gpu) * (g - gph).astype("float64")
                / float(goh - gph)
            ) / 1000000.0
            i += k
        yield pd.DataFrame(
            {
                "user_id": user_a,
                "hour_num": hour_a,
                "n_obs": nobs_a,
                "locf_val": locf_a,
                "interp_val": intp_a,
            }
        )

    res = (
        partials.withColumn("shard", F.pmod("user_id", F.lit(64)))
        .groupBy("shard")
        .applyInPandasWithState(
            gapfill,
            outputStructType=(
                "user_id long, hour_num long, n_obs long, "
                "locf_val double, interp_val double"
            ),
            stateStructType=(
                "uids array<long>, ph array<long>, pu array<long>, "
                "oh array<long>, ou array<long>, onn array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # A row-GENERATING operator's output is corpus-sized (the dense
    # grid is ~10x the event count at 10x scale), so it must leave
    # through the distributed FILE sink — the memory sink collects to
    # the driver and measurably bursts the task-result transport at
    # the 10x smoke (752 MB single-block fetch). Doubles round-trip
    # parquet bit-exactly, so oracle parity is unaffected.
    import tempfile

    path = tempfile.mkdtemp(prefix="sparkgraft_out_")
    run_stream(res, "parquet", path=path, state_partitions=S19_STATE_PARTITIONS)
    return spark.read.parquet(path)


# --- S12c: Python DataSource FILTER PUSHDOWN (Spark 4.1) -----------------------

# Partition 0 (the first time-quarter) keeps every predicate
# non-vacuous at ALL gate SFs: the replay's event ids are
# time-correlated, so partition k's offsets live in the k-th quarter
# of the id space — at sf0.1 partition 2's offsets start at ~50k and
# an upper bound below that empties the result (measured; partition 0
# spans 0..N/4 everywhere, so LO bites at every sf and HI bites once
# N/4 > HI).
S12C_PART = 0
S12C_LO = 100
S12C_HI = 9000


@query(
    "s12c_python_ds_pushdown",
    oracle=f"""
WITH ranked AS (
  SELECT event_id, props,
         NTILE(4) OVER (ORDER BY ts, event_id) - 1 AS part_id
  FROM events
)
SELECT 'events' AS topic, CAST(part_id AS INT) AS part_id,
       CAST(count(*) AS BIGINT) AS n,
       min(event_id) AS min_offset,
       max(event_id) AS max_offset,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k
FROM ranked
WHERE part_id = {S12C_PART}
  AND event_id >= {S12C_LO} AND event_id < {S12C_HI}
  AND event_id % 2 = 0
GROUP BY part_id
""",
)
def s12c_python_ds_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown THROUGH the engine's own Python DataSource
    (Spark 4.1 ``pushFilters``): the consumer-lag query for one queue
    partition and an offset range. The connector accepts
    EqualTo(part_id) — so the planner schedules ONE InputPartition
    instead of four (the kafka assign()/seek analogy: pruning happens
    before any I/O) — and the offset bounds, which it lowers to
    parquet row-group predicates inside the chunk; the non-pushable
    residue (``offset % 2 = 0``) is returned to Spark and evaluated
    post-scan. Semantics are filter-placement-invariant, so the oracle
    replays all the predicates declaratively over the NTILE
    partitioning; the reader-level pruning itself is pinned by direct
    unit tests (partitions() count, accepted/returned filter split).
    """
    from sparkstreaming_mq_spark.streaming.sources import (
        MQPushdownDataSource,
        ship_package,
        chunked_events_dir,
    )

    if MQPushdownDataSource is None:  # pragma: no cover - Spark < 4
        raise RuntimeError("Python DataSource API unavailable")
    ship_package(spark)
    # filterPushdown is session-global state; set it only for the
    # planning window and restore the caller's value afterwards
    # (ADVICE r7: leaving it set is order-dependent state for every
    # later Python DataSource read). The conf is consulted when the
    # V2 scan is PLANNED, so force physical planning inside the
    # try/finally — the cached executedPlan keeps the pushdown live
    # when the caller later executes the returned DataFrame.
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        try:
            spark.dataSource.register(MQPushdownDataSource)
        except Exception:
            pass  # already registered in this session
        base = chunked_events_dir(spark, sf_dir, n_chunks=4, order="time")
        env = spark.read.format("mqreplay_pushdown").option("path", base).load()
        out = (
            env.filter(
                (F.col("part_id") == S12C_PART)
                & (F.col("offset") >= S12C_LO)
                & (F.col("offset") < S12C_HI)
                & (F.pmod(F.col("offset"), F.lit(2)) == 0)
            )
            .select(
                "topic",
                "part_id",
                "offset",
                F.get_json_object("value", "$.k").cast("bigint").alias("k"),
            )
            .groupBy("topic", "part_id")
            .agg(
                F.count("*").alias("n"),
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
                F.sum("k").alias("sum_k"),
            )
        )
        out._jdf.queryExecution().executedPlan()  # plan now, under the conf
        return out
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


# --- J16: stream-static TEMPORAL (validity-interval) join ----------------------


@query(
    "j16_stream_temporal_join",
    oracle="""
WITH dim AS (
  SELECT user_id, event_type AS state,
         date_trunc('second', ts) AS valid_from,
         lead(date_trunc('second', ts)) OVER (
           PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
         ) AS valid_to
  FROM events
  WHERE event_type IN ('signup', 'error')
)
SELECT d.state AS state_at_time, e.event_type, CAST(count(*) AS BIGINT) AS n
FROM events e
JOIN dim d
  ON e.user_id = d.user_id
 AND date_trunc('second', e.ts) >= d.valid_from
 AND (d.valid_to IS NULL OR date_trunc('second', e.ts) < d.valid_to)
GROUP BY d.state, e.event_type
""",
)
def j16_stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static TEMPORAL join: each streamed event is enriched
    with the state that was valid AT ITS EVENT TIME from an SCD2
    validity-interval dimension (the m2 build run batch-side) — the
    'which campaign/config/price was active when this event happened'
    pattern, which j9's current-state equi join cannot answer. The
    join predicate is user equality PLUS the half-open interval
    containment [valid_from, valid_to); intervals tile each user's
    timeline, so every event lands in exactly one non-degenerate
    interval (zero-length same-second intervals match nothing — the
    deterministic tie rule, mirrored by the oracle's identical window
    order). Stateless per micro-batch (no join state store), rolled
    up in complete mode over the full replay → batch-expansion
    oracle. At scale the static side is a true dimension's SCD2
    history (dim-bounded); here it is built from the same corpus,
    which sizes the demo but not the mechanics."""
    dim = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "error"))
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("state_at_time"),
            F.date_trunc("second", "ts").alias("valid_from"),
            "event_id",
        )
    )
    wd = Window.partitionBy("d_user").orderBy("valid_from", "event_id")
    dim = dim.select(
        "d_user",
        "state_at_time",
        "valid_from",
        F.lead("valid_from").over(wd).alias("valid_to"),
    )
    stream = read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
    s_ts = F.date_trunc("second", F.col("ts"))
    joined = stream.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (s_ts >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (s_ts < F.col("valid_to"))),
        "inner",
    )
    agg = joined.groupBy("state_at_time", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    return spark.table(run_stream(agg, "memory", "complete").name)


# --- RocksDB + changelog checkpointing on the HEAVY stateful chains -----------
#
# t11 proves the provider swap on the tumbling agg; these wrappers put
# the 100 TB state backend under the hardest state shapes the engine
# has — the chained multi-stateful queries (t14 agg→agg, t15
# join→agg, t16 union→dedup→agg) and the row-GENERATING
# applyInPandasWithState gap-filler (s19) — with the ORIGINAL
# measured-mechanics oracles attached verbatim (`_ORACLES[...]`), so
# the driver hash-verifies that the provider changes nothing but the
# storage layer. Changelog checkpointing is enabled too: per-batch
# deltas upload instead of full RocksDB snapshots, the conf that makes
# large-state checkpointing feasible at production scale.

_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def _run_under_rocksdb(spark: SparkSession, fn, *args):
    """Run a streaming query function under the RocksDB provider +
    changelog checkpointing, restoring every conf afterwards. Safe to
    wrap because the wrapped functions execute their stream to
    completion INSIDE the call (memory/file sink + awaitTermination)
    — nothing stateful is left lazy when the confs roll back."""
    prev = {k: spark.conf.get(k, None) for k in _ROCKSDB_CONFS}
    for k, v in _ROCKSDB_CONFS.items():
        spark.conf.set(k, v)
    try:
        return fn(spark, *args)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query("t14b_rocksdb_chain", oracle=_ORACLES["t14_chained_windows"])
def t14b_rocksdb_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t14's agg→agg chained stateful query on the RocksDB state store
    with changelog checkpointing — two stateful stages share the
    backend, each with its own per-partition RocksDB instance. Result
    must be hash-identical to t14 (same measured-mechanics oracle)."""
    return _run_under_rocksdb(spark, t14_chained_windows, sf_dir)


@query("t15b_rocksdb_join_chain", oracle=_ORACLES["t15_join_then_window"])
def t15b_rocksdb_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t15's stream-stream join feeding a window agg, on RocksDB +
    changelog checkpointing — join state (both sides' buffered rows)
    is the largest state shape streaming has; the provider swap must
    not change emission by a row."""
    return _run_under_rocksdb(spark, t15_join_then_window, sf_dir)


@query("t16b_rocksdb_union_chain", oracle=_ORACLES["t16_union_dedup_window"])
def t16b_rocksdb_union_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t16's union→dedup→agg chain on RocksDB + changelog
    checkpointing — dedup state is one key per event_id seen, the
    highest-cardinality state in the suite."""
    return _run_under_rocksdb(spark, t16_union_dedup_window, sf_dir)


@query("s19b_rocksdb_gapfill", oracle=_ORACLES["s19_stream_gapfill"])
def s19b_rocksdb_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s19's row-generating applyInPandasWithState gap-filler on
    RocksDB + changelog checkpointing — arbitrary (pickled-Python)
    state through the file-sink delivery path, unchanged output."""
    return _run_under_rocksdb(spark, s19_stream_gapfill, sf_dir)


# --- T17: mergeable quantile sketch as STREAMING state (r9) -------------------

from sparkstreaming_mq_spark.operators.aggregates import (  # noqa: E402
    A5C_ORACLE as _A5C_ORACLE,
)


@query("t18_stream_quantile_sketch", oracle=_A5C_ORACLE)
def t18_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a5c's deterministic KLL/MRL quantile sketch as STREAMING state:
    ``applyInPandasWithState`` keyed by week holds (n, levels) in the
    checkpointed state store, merges each micro-batch's values into
    the sketch, and emits the running per-week estimate every batch —
    the incremental-quantiles complement to t7's sessionizer (counter
    state) and s19's gap-filler (generator state). This is exactly how
    a production pipeline keeps percentile dashboards over an infinite
    stream with O(capacity·log n) memory per key: the sketch REPLACES
    the raw values, so state never grows with the data.

    Full oracle (the a4b/a5c exact-regime pattern): a week's final
    emission carries its complete sketch — n_vals strictly increases
    per emission, so the batch-side keeps each week's max-n_vals row —
    and below QS_CAPACITY the estimate equals the exact interpolated
    quantile, making a5c's own DuckDB oracle (quantile_cont per week)
    value-exact while the path exercised is real streaming sketch
    maintenance. Merge order across micro-batches is irrelevant in the
    exact regime (concat-and-sort); the lossy regime's batch-boundary
    sensitivity is the same caveat a5c's partials document, pinned by
    the helper-level pytest suite.

    Rounding happens engine-side AFTER the stream (never in the UDF —
    the a5 rule); raw doubles cross the sink."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from sparkstreaming_mq_spark.operators.aggregates import (
        QS_CAPACITY,
        _qs_from_values,
        _qs_merge,
        _qs_quantile,
    )

    stream = (
        read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time")
        .filter(F.col("value").isNotNull())
        .select(
            F.date_trunc("week", F.date_trunc("day", "ts")).alias("week"), "value"
        )
    )

    def update_sketch(key, pdf_iter, state: GroupState):
        (week,) = key
        if state.exists:
            n, levels = state.get
            levels = [list(lvl) for lvl in levels]
        else:
            n, levels = 0, []
        chunks = list(pdf_iter)
        if chunks:
            vals = pd.concat(chunks)["value"].to_numpy()
            batch_levels, _ = _qs_from_values(vals, QS_CAPACITY)
            merged, _ = _qs_merge(
                ([levels] if levels else []) + [batch_levels], QS_CAPACITY
            )
            n += len(vals)
            levels = [lvl.tolist() for lvl in merged]
            state.update((n, levels))
            yield pd.DataFrame(
                {
                    "week": [week],
                    "n_vals": [n],
                    "p50": [_qs_quantile(merged, 0.5)],
                    "p90": [_qs_quantile(merged, 0.9)],
                }
            )

    out = stream.groupBy("week").applyInPandasWithState(
        update_sketch,
        outputStructType="week timestamp, n_vals long, p50 double, p90 double",
        stateStructType="n long, levels array<array<double>>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = spark.table(run_stream(out, "memory", "update").name)
    # final estimate per week = the emission carrying the full sketch
    # (n_vals strictly increases within a week, so max is unique)
    w = Window.partitionBy("week").orderBy(F.desc("n_vals"))
    return (
        res.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "week",
            "n_vals",
            F.round("p50", 4).alias("p50"),
            F.round("p90", 4).alias("p90"),
        )
    )


@query("t18b_rocksdb_quantile_sketch", oracle=_A5C_ORACLE)
def t18b_rocksdb_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18's streaming quantile sketch on the RocksDB state store with
    changelog checkpointing — pickled-Python sketch state (the levels
    arrays) through the provider swap, same oracle, completing the
    RocksDB twin matrix (t14b agg chain, t15b join chain, t16b dedup
    chain, s19b generator state, now sketch state)."""
    return _run_under_rocksdb(spark, t18_stream_quantile_sketch, sf_dir)


# --- T20: streaming CDC apply — per-batch MERGE into a keyed store -----------

T20_CHUNKS = 4
T20_BUCKETS = 16


def _cdc_bucket_expr(n_buckets: int):
    """Deterministic store bucket for a user key. crc32-of-string, not
    F.hash: the bucket id must be stable across Spark versions because
    it is baked into the store's file layout (a rehash would orphan
    every existing bucket file)."""
    return F.pmod(
        F.crc32(F.col("user_id").cast("string")), F.lit(n_buckets)
    ).cast("int")


def cdc_upsert_run(
    spark: SparkSession,
    stream: DataFrame,
    n_buckets: int = T20_BUCKETS,
) -> tuple[DataFrame, list[dict], dict[int, dict[int, str]]]:
    """Delta-pruned streaming MERGE engine (shared by t20 and its
    tests). The keyed store is hash-bucketed by user_id into
    ``n_buckets`` files; each epoch rewrites ONLY the buckets that
    contain an arriving key and carries every untouched bucket forward
    as a pointer in a per-epoch manifest — per-epoch write work is
    O(|store ∩ touched buckets|), bounded by O(|delta keys| × avg
    bucket size), NOT O(|store|) (the r10 verdict's full-rewrite
    anti-shape: real Delta/Iceberg MERGE touches only files containing
    matched keys; this is that file-pruning, with buckets as the
    files).

    Retry-idempotent by construction (ADVICE r10): epoch e always
    merges against the newest manifest with epoch' < e, so a retried
    epoch re-reads the pre-e store — never its own half-written
    output — and overwrites v{e} whole. Returns (final store
    DataFrame, per-epoch stats [{epoch, touched, n_buckets,
    bytes_written, store_buckets}], the manifests dict for
    ``cdc_vacuum``); stats power the BASELINE rewrite-bytes
    comparison.
    """
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="sparkgraft_cdc_")
    # epoch -> {bucket_id: published dir for that bucket's current rows}
    manifests: dict[int, dict[int, str]] = {}
    stats: list[dict] = []

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        delta = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__bucket", _cdc_bucket_expr(n_buckets))
        )
        # bucket ids arriving this epoch — bounded by n_buckets, the
        # one driver-side collect (a handful of ints, never row data)
        touched = sorted(
            r["__bucket"] for r in delta.select("__bucket").distinct().collect()
        )
        prior_epochs = [e for e in manifests if e < epoch_id]
        prior = manifests[max(prior_epochs)] if prior_epochs else {}
        if not touched:  # zero-row batch: carry the store forward
            manifests[epoch_id] = dict(prior)
            return
        prior_paths = [prior[b] for b in touched if b in prior]
        if prior_paths:
            # partitionBy stripped __bucket from the files; recompute —
            # same deterministic expression, same ids
            cur = sess.read.parquet(*prior_paths).withColumn(
                "__bucket", _cdc_bucket_expr(n_buckets)
            )
            merged = (
                cur.unionByName(delta)
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(
                            F.col("ts").desc(), F.col("event_id").desc()
                        )
                    ),
                )
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            merged = delta
        vdir = os.path.join(base, f"v{epoch_id}")
        merged.write.mode("overwrite").partitionBy("__bucket").parquet(vdir)
        nxt = dict(prior)
        written = 0
        for b in touched:
            bdir = os.path.join(vdir, f"__bucket={b}")
            # merge never drops keys, so every touched bucket has rows
            nxt[b] = bdir
            written += sum(
                os.path.getsize(os.path.join(bdir, f))
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            )
        manifests[epoch_id] = nxt
        stats.append(
            {
                "epoch": epoch_id,
                "touched": len(touched),
                "n_buckets": n_buckets,
                "bytes_written": written,
                "store_buckets": len(nxt),
            }
        )

    run_stream(stream, apply_batch, state_partitions=None)
    if not manifests:  # zero-batch stream (ADVICE r10 IndexError guard)
        return spark.createDataFrame([], stream.schema), stats, manifests
    last = manifests[max(manifests)]
    final = spark.read.parquet(*sorted(set(last.values())))
    return final, stats, manifests


def cdc_vacuum(
    manifests: dict[int, dict[int, str]], keep_epochs: int = 1
) -> tuple[list[str], list[str]]:
    """Vacuum for the bucketed CDC store: with delta-pruned versions a
    bucket dir written at epoch e stays LIVE as long as any retained
    manifest still points at it (untouched buckets ride forward by
    reference), so "delete old version dirs" is wrong — liveness is
    per BUCKET DIR, computed from the retained manifests' pointer
    sets. Keeps the newest ``keep_epochs`` manifests, deletes every
    bucket dir referenced only by older ones, and prunes the dropped
    manifest entries. Returns (deleted_dirs, live_dirs) — the caller
    (or a test) can assert the live set is exactly the retained
    manifests' image. Pure driver-side metadata work: O(buckets ×
    versions) path strings, no data scan — the Delta/Iceberg VACUUM
    shape.
    """
    import shutil

    epochs = sorted(manifests)
    retained = epochs[-keep_epochs:] if keep_epochs > 0 else []
    live = {p for e in retained for p in manifests[e].values()}
    dead = {
        p
        for e in epochs
        if e not in retained
        for p in manifests[e].values()
        if p not in live
    }
    for p in sorted(dead):
        shutil.rmtree(p, ignore_errors=True)
    for e in epochs:
        if e not in retained:
            del manifests[e]
    return sorted(dead), sorted(live)


@query(
    "t20_stream_cdc_upsert",
    oracle="""
SELECT user_id,
       date_trunc('second', ts) AS last_ts,
       event_type AS last_type,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS last_cents
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def t20_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY: each micro-batch MERGES into a keyed store
    so the materialized "current state per user" table is maintained
    batch-by-batch — the Delta-style `MERGE INTO` loop (and the
    streaming twin of m1_merge_upsert), not s7's post-hoc log
    compaction: mid-stream the store is a queryable consistent
    snapshot, and the final table IS the answer with no second pass
    over the log.

    Merge rule is greatest-wins CDC, not blind overwrite: per batch
    the arriving changes first collapse to one row per key (max
    (ts, event_id) — the within-batch dedup every CDC applier needs),
    then the merge keeps whichever side is newer by the same total
    order. That makes the result independent of replay order — correct
    even though this time-ordered replay happens to deliver
    monotonically increasing timestamps.

    Since r11 the store is DELTA-PRUNED (the r10 verdict's top item):
    hash-bucketed by user_id, and each epoch rewrites only buckets
    containing arriving keys — untouched buckets ride forward as
    manifest pointers, so per-epoch write work scales with |delta|'s
    bucket footprint, not |store| (see ``cdc_upsert_run``). Each epoch
    still publishes an immutable new version (manifest per epoch, the
    o13 idea) and a retried epoch merges against the newest manifest
    STRICTLY OLDER than itself — never its own output (ADVICE r10).
    The oracle is the batch SQL "last row per key" — the invariant the
    incremental merge must preserve, unchanged from the full-rewrite
    form.
    """
    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=T20_CHUNKS, order="time"
    ).select("user_id", "ts", "event_id", "event_type", "value")
    final, _stats, _manifests = cdc_upsert_run(spark, stream, n_buckets=T20_BUCKETS)
    return final.select(
        "user_id",
        F.date_trunc("second", "ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("last_cents"),
    )


# --- T21: streaming distribution-drift gate ------------------------------------

# x6's dataset-shift audit moved to ingest time: each micro-batch's
# value histogram is compared against the standing corpus profile and
# the epoch's drift score lands in a quality log — the continuous
# monitoring form of the batch promotion gate (and the trigger a real
# pipeline uses to quarantine a bad crawl BEFORE it mixes in).
T21_BUCKET_CENTS = 10_000   # $100-wide value buckets
T21_N_BUCKETS = 10
T21_CHUNKS = 4

T21_ORACLE = f"""
WITH ref AS (
  SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 // {T21_BUCKET_CENTS}, {T21_N_BUCKETS - 1}) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
ref_sh AS (
  SELECT bucket,
         n * CAST(1000000 AS BIGINT)
           // CAST((SELECT sum(n) FROM ref) AS BIGINT) AS ppm_ref
  FROM ref
),
chunked AS (
  SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 // {T21_BUCKET_CENTS}, {T21_N_BUCKETS - 1}) AS bucket,
         ntile({T21_CHUNKS}) OVER (ORDER BY ts, event_id) - 1 AS epoch
  FROM events
),
batch AS (
  SELECT epoch, bucket, CAST(count(*) AS BIGINT) AS n
  FROM chunked GROUP BY epoch, bucket
),
btot AS (
  SELECT epoch, CAST(sum(n) AS BIGINT) AS n_rows FROM batch GROUP BY epoch
),
sh AS (
  SELECT t.epoch, t.n_rows, r.ppm_ref,
         coalesce(b.n, 0) * CAST(1000000 AS BIGINT) // t.n_rows AS ppm_b
  FROM ref_sh r
  CROSS JOIN btot t
  LEFT JOIN batch b ON b.bucket = r.bucket AND b.epoch = t.epoch
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(max(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(abs(ppm_b - ppm_ref)) AS BIGINT) AS drift_ppm
FROM sh
GROUP BY epoch
"""


@query("t21_stream_drift_gate", oracle=T21_ORACLE)
def t21_stream_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift gate: per micro-batch, the incoming value
    histogram (x6's literal-bound equi-width buckets) is compared
    against the STANDING corpus profile — a {T21_N_BUCKETS}-row frame
    computed once batch-side and reused every epoch — and the epoch's
    L1 drift in exact ppm is appended to a quality log, epoch-keyed
    and overwrite-idempotent (a retried epoch replaces its own row,
    the s15 layout). The pinned time-ordered replay makes the log
    deterministic, so the oracle replays chunk membership with
    SQL-standard ntile({T21_CHUNKS}) (the t14 convention: epoch N =
    chunk N, oldest first) and recomputes every epoch's drift.

    Scale shape: the reference profile is metadata-sized and effectively
    broadcast (it rides the closure as a {T21_N_BUCKETS}-row frame);
    per epoch the work is one codegen bucket projection + a
    {T21_N_BUCKETS}-key aggregate — no state store, no shuffle beyond
    the tiny histogram gather; the quality log grows one row per
    epoch. Empty epochs write nothing (guard below) — a zero-row
    batch has no histogram to score.
    """
    import os as _os
    import shutil
    import tempfile

    ref = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                f"least(CAST(floor(value * 100 + 0.5) AS BIGINT)"
                f" div {T21_BUCKET_CENTS}, {T21_N_BUCKETS - 1})"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ref_rows = ref.collect()  # <= T21_N_BUCKETS rows — metadata-sized
    ref_total = sum(r.n for r in ref_rows)
    ref_ppm = {r.bucket: r.n * 1_000_000 // ref_total for r in ref_rows}

    # Keyed like the replay caches (ADVICE r11): the log is fully
    # re-derived each invocation, so one fingerprinted path per fixture
    # generation replaces itself instead of accumulating orphaned
    # mkdtemp dirs across driver/bench runs. Cleared up front — the
    # returned DataFrame is read lazily by the caller, so the directory
    # must outlive this function. pid-salted (ADVICE r12): two
    # processes running t21 against the same fixtures (check_oracle
    # beside driver_sim) must not rmtree each other's live directory;
    # same-process reuse still self-replaces, and accumulation is
    # bounded at one dir per (fixture generation, pid).
    from sparkstreaming_mq_spark.tables import cache_key as _cache_key

    log_dir = _os.path.join(
        tempfile.gettempdir(),
        f"sparkgraft_t21_log_{_cache_key(sf_dir, 'events')}_{_os.getpid()}",
    )
    shutil.rmtree(log_dir, ignore_errors=True)
    _os.makedirs(log_dir, exist_ok=True)

    def score(batch_df: DataFrame, epoch_id: int) -> None:
        hist = {
            r.bucket: r.n
            for r in batch_df.select(
                F.expr(
                    f"least(CAST(floor(value * 100 + 0.5) AS BIGINT)"
                    f" div {T21_BUCKET_CENTS}, {T21_N_BUCKETS - 1})"
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }
        n_rows = sum(hist.values())
        if n_rows == 0:
            return  # zero-row epoch: nothing to score
        drift = sum(
            abs(hist.get(b, 0) * 1_000_000 // n_rows - ppm_r)
            for b, ppm_r in ref_ppm.items()
        )
        # The log row is DRIVER metadata (three ints the driver just
        # computed from the collected histogram) — writing it through a
        # Spark job charged a full job's scheduling latency per epoch
        # (r12 had already cut the python-worker coalesce path, 6.1 →
        # 0.84 s; r14 removes the job entirely: a direct pyarrow write
        # of the same one-row file, measured ~ms — interleaved A/B at
        # sf0.1: 2.28-2.48 → 1.89 s). Same layout, same schema Spark
        # reads back (probe: spark.read.parquet yields identical
        # struct<bigint,bigint,bigint>, all-nullable, both ways), same
        # overwrite-idempotency: a retried epoch replaces its own
        # single file via atomic rename.
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        edir = _os.path.join(log_dir, f"__epoch={epoch_id}")
        _os.makedirs(edir, exist_ok=True)
        tbl = _pa.table(
            {
                "epoch": _pa.array([int(epoch_id)], _pa.int64()),
                "n_rows": _pa.array([int(n_rows)], _pa.int64()),
                "drift_ppm": _pa.array([int(drift)], _pa.int64()),
            }
        )
        # dot-prefixed temp name: Spark's InMemoryFileIndex ignores
        # hidden files, so a crash between write and replace can never
        # leave a file the log read would choke on (r15 ADVICE; a bare
        # .tmp suffix is NOT filtered by the hidden-file rules)
        tmp = _os.path.join(edir, ".part-00000.parquet.tmp")
        _pq.write_table(tbl, tmp)
        _os.replace(tmp, _os.path.join(edir, "part-00000.parquet"))

    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=T21_CHUNKS, order="time"
    ).select("ts", "event_id", "value")
    run_stream(stream, score, state_partitions=None)
    return spark.read.parquet(log_dir).select("epoch", "n_rows", "drift_ppm")


# --- T22: streaming heavy hitters (bounded-state SpaceSaving top-k) -----------

T22_SHARDS = 8     # state keys: pmod(user_id, T22_SHARDS)
T22_CAP = 256      # SpaceSaving counters per (shard) state — the bounded-
                   # state knob; every fixture SF is in the exact regime
                   # (max 104 distinct users per shard-window at sf0.1)
T22_TOPK = 5
T22_WINDOW_US = 21_600_000_000  # 6-hour tumbling windows


def _t22_oracle() -> str:
    return f"""
WITH e AS (
  SELECT user_id % {T22_SHARDS} AS shard,
         epoch_us(ts) // {T22_WINDOW_US} AS wb,
         user_id
  FROM events
),
cnt AS (
  SELECT shard, wb, user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2, 3
),
closed AS (
  SELECT c.* FROM cnt c
  WHERE c.wb < (SELECT max(wb) FROM cnt c2 WHERE c2.shard = c.shard)
),
ranked AS (
  SELECT shard, wb AS window_num, user_id, n_events,
         CAST(row_number() OVER (
           PARTITION BY shard, wb
           ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
  FROM closed
)
SELECT shard, window_num, user_id, n_events, rk
FROM ranked WHERE rk <= {T22_TOPK}
"""


@query("t22_stream_heavy_hitters", oracle=_t22_oracle())
def t22_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: per 6-hour tumbling
    window, the top-{T22_TOPK} most active users, tracked by a
    SpaceSaving summary (Metwally et al., "Efficient computation of
    frequent and top-k elements in data streams") capped at T22_CAP
    counters per shard — the 100 TB-safe complement of the batch
    heavy-hitter query (a11): an exact per-window groupBy holds every
    distinct key in the window (state ∝ key cardinality, unbounded on
    a web-scale user base), while SpaceSaving holds O(CAP) counters
    per shard FOREVER, with the classic guarantee (any key with true
    count > N/CAP is retained; estimates overshoot by at most the
    minimum counter).

    State is keyed by user-hash shard, not by window: a window-keyed
    state group can never learn its window is over (it only sees its
    own rows), while a shard sees the time-ordered replay advance and
    closes window w the moment an event of a LATER window arrives in
    that shard — all of w's shard-events are then final (time-ordered
    chunks; the s19 closed-hour argument). Each closure emits the
    shard's top-{T22_TOPK} (count desc, user_id asc). The final window
    never closes (no AvailableNow trailing flush, measured t7) — the
    oracle's `wb < max(wb per shard)` cut, verified non-vacuous in
    pytest.

    Full oracle by the a4 exact-regime rule: with distinct users per
    (shard, window) ≤ T22_CAP (all fixture SFs: max 104 at sf0.1) the
    SpaceSaving summary IS the exact counter set, so the emitted rows
    equal the SQL's exact per-window top-k; past the cap the estimates
    take over and a driver fixture would move this to rows-tier (the
    cap is the documented contract, like a4's sketch tiers). Counters
    live in state as parallel arrays (uids, cnts) sorted by user_id —
    deterministic across replays.

    Skew (r13, measured): a 10%-hot user made the raw-event form 2.4×
    its uniform wall (26.4 vs 11.1 s at 10×) — every hot-key row
    shipped into ONE state partition. Stateful ops get no map-side
    combine, so this builds one by hand: a STATELESS mapInPandas
    pre-counts (shard, wb, user) per scan partition before the state
    exchange (counts are additive, the kernel merges partials exactly
    as it merged raw batch counts — semantics unchanged, same oracle).
    State-bound traffic drops from O(events) to O(scan partitions ×
    windows × users-per-batch), and a hot key costs its partial rows,
    not its event count."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=4, order="time"
    ).select("user_id", "ts")

    def precount(batch_iter):
        # stateless per-PARTITION partial counts, accumulated across the
        # Arrow batch iterator (_a18_partials-style; ADVICE r13) — the
        # hand-built map-side combiner (runs BEFORE the shard exchange).
        # Emitting once per partition (not per Arrow batch) keeps the
        # state-bound traffic O(scan partitions × windows × users), not
        # × Arrow-batch count; the buffer compresses past a bound so
        # kernel memory stays O(distinct (wb, user) of the partition).
        acc_wb: list = []
        acc_uid: list = []
        acc_cnt: list = []
        acc_len = 0

        def _fold():
            wb = np.concatenate(acc_wb)
            uid = np.concatenate(acc_uid)
            cnt = np.concatenate(acc_cnt)
            order = np.lexsort((uid, wb))
            wb, uid, cnt = wb[order], uid[order], cnt[order]
            nb = np.ones(len(wb), dtype=bool)
            nb[1:] = (wb[1:] != wb[:-1]) | (uid[1:] != uid[:-1])
            i = np.flatnonzero(nb)
            return wb[i], uid[i], np.add.reduceat(cnt, i).astype("int64")

        for pdf in batch_iter:
            if not len(pdf):
                continue
            us = np.asarray(
                pdf["ts"].values, dtype="datetime64[ns]"
            ).astype("int64") // 1000
            wb = us // T22_WINDOW_US
            uid = pdf["user_id"].to_numpy(np.int64)
            order = np.lexsort((uid, wb))
            wb, uid = wb[order], uid[order]
            nb = np.ones(len(wb), dtype=bool)
            nb[1:] = (wb[1:] != wb[:-1]) | (uid[1:] != uid[:-1])
            i = np.flatnonzero(nb)
            acc_wb.append(wb[i])
            acc_uid.append(uid[i])
            acc_cnt.append(np.diff(np.append(i, len(wb))).astype("int64"))
            acc_len += len(i)
            if acc_len > 2_000_000:
                fwb, fuid, fcnt = _fold()
                acc_wb[:], acc_uid[:], acc_cnt[:] = [fwb], [fuid], [fcnt]
                acc_len = len(fwb)
        if acc_wb:
            fwb, fuid, fcnt = _fold()
            yield pd.DataFrame(
                {
                    "shard": fuid % T22_SHARDS,  # np % == pmod for int64
                    "wb": fwb,
                    "user_id": fuid,
                    "cnt": fcnt,
                }
            )

    partials = stream.mapInPandas(
        precount, schema="shard long, wb long, user_id long, cnt long"
    )

    def topk(key, pdf_iter, state: GroupState):
        (shard,) = key
        if state.exists:
            open_wb, uids, cnts = state.get
            # normalize the persisted -1 sentinel back to None (the s21
            # rule; ADVICE r13) so a future refactor that persists
            # counters alongside the sentinel can't emit a phantom
            # window_num=-1 closure
            if open_wb < 0:
                open_wb = None
            counters = dict(zip(uids, cnts))
        else:
            open_wb, counters = None, {}
        out_rows: list[tuple] = []

        def close(wb: int, cs: dict) -> None:
            top = sorted(cs.items(), key=lambda kv: (-kv[1], kv[0]))[:T22_TOPK]
            for rk, (uid, n) in enumerate(top, start=1):
                out_rows.append((shard, wb, uid, n, rk))

        def merge(cs: dict, batch_counts) -> dict:
            # SpaceSaving: known keys add exactly; new keys insert while
            # under CAP, else evict the min counter (tiebreak: largest
            # user_id — deterministic) and inherit its count (the
            # overshoot bound). Batch keys in user_id order.
            for uid, c in batch_counts:
                if uid in cs:
                    cs[uid] += c
                elif len(cs) < T22_CAP:
                    cs[uid] = c
                else:
                    evict = min(cs.items(), key=lambda kv: (kv[1], -kv[0]))
                    del cs[evict[0]]
                    cs[uid] = evict[1] + c
            return cs

        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            # fold the scan-partition partials of this micro-batch to
            # one exact count per (wb, user) — additive, so identical
            # to counting the raw events
            wbs = pdf["wb"].to_numpy(np.int64)
            uid_arr = pdf["user_id"].to_numpy(np.int64)
            cnt_arr = pdf["cnt"].to_numpy(np.int64)
            order = np.lexsort((uid_arr, wbs))
            wbs, uid_arr, cnt_arr = wbs[order], uid_arr[order], cnt_arr[order]
            nb = np.ones(len(wbs), dtype=bool)
            nb[1:] = (wbs[1:] != wbs[:-1]) | (uid_arr[1:] != uid_arr[:-1])
            starts = np.flatnonzero(nb)
            agg_c = np.add.reduceat(cnt_arr, starts) if len(starts) else cnt_arr
            wbs_u, uid_u = wbs[starts], uid_arr[starts]
            for wb in np.unique(wbs_u):  # ascending
                sel = wbs_u == wb
                wb = int(wb)
                if open_wb is not None and wb > open_wb:
                    close(open_wb, counters)
                    counters = {}
                open_wb = wb
                counters = merge(
                    counters,
                    zip(uid_u[sel].tolist(), agg_c[sel].tolist()),
                )
        items = sorted(counters.items())
        state.update(
            (
                open_wb if open_wb is not None else -1,
                [int(u) for u, _ in items],
                [int(c) for _, c in items],
            )
        )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["shard", "window_num", "user_id", "n_events", "rk"],
            )

    out = partials.groupBy("shard").applyInPandasWithState(
        topk,
        outputStructType=(
            "shard long, window_num long, user_id long, n_events long, rk long"
        ),
        stateStructType="wb long, uids array<long>, cnts array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return spark.table(run_stream(out, "memory", "append").name)


@query("t22b_rocksdb_heavy_hitters", oracle=_t22_oracle())
def t22b_rocksdb_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t22's SpaceSaving heavy hitters on the RocksDB state store with
    changelog checkpointing (the t14b/s19b provider-parity pattern):
    the bounded counter arrays round-trip the 100 TB backend and the
    emission must stay hash-identical to the HDFS-backed run — same
    exact-regime SQL oracle attached verbatim."""
    return _run_under_rocksdb(spark, t22_stream_heavy_hitters, sf_dir)


# --- S21: streaming EWMA (stateful twin of batch ts7) --------------------------

S21_LAGS = 24  # keep in lockstep with operators/timeseries.TS7_LAGS
S21_SHARDS = 64  # state keys: pmod(user_id, S21_SHARDS) — the t22 layout


def _s21_oracle() -> str:
    return f"""
WITH obs AS (
  SELECT user_id,
         epoch_us(ts) // 3600000000 AS hnum,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS units
  FROM events GROUP BY 1, 2
),
contrib AS (
  SELECT o.user_id,
         o.hnum + k.k AS hnum,
         CAST(sum(CAST(o.units
              * (CAST(1 AS BIGINT) << ({S21_LAGS} - k.k)) AS HUGEINT))
           AS BIGINT) AS ewma_scaled
  FROM obs o,
       (SELECT unnest(generate_series(0, {S21_LAGS})) AS k) k
  GROUP BY 1, 2
)
SELECT o.user_id,
       o.hnum AS hour_num,
       o.units AS units_now,
       c.ewma_scaled
FROM obs o
JOIN contrib c ON c.user_id = o.user_id AND c.hnum = o.hnum
WHERE o.hnum < (SELECT max(hnum) FROM obs o2 WHERE o2.user_id = o.user_id)
"""


@query("s21_stream_ewma", oracle=_s21_oracle())
def s21_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exponential smoothing: batch ts7's truncated
    fixed-point EWMA as LIVE per-user state — the monitoring-baseline
    number a stream consumer reads per hour, emitted the moment the
    hour's sum is final. Stream/batch equivalence pair like ts1↔s19
    and ts2↔s18 (pytest proves row-identity to ts7 minus the cut).

    State per user: the trailing ≤ 25 CLOSED hourly sums (pruned past
    the truncation horizon) plus the open hour — O(1), never series
    length. An hour closes when a later hour's first event arrives
    (time-ordered replay, the s19 closed-hour argument), which makes
    its own sum AND every trailing contributor final, so the emitted
    ewma_scaled is exactly batch ts7's dyadic integer. Each user's
    final hour never closes (no AvailableNow trailing flush) — the
    oracle's per-user `hnum < max(hnum)` cut.

    Full oracle: order-free integer sums per hour (never-round-in-
    pandas), dyadic shifts in exact Python ints, the same widened
    convolution SQL as ts7 plus the cut.

    Like t22, a STATELESS mapInPandas pre-sums (user, hour) micro-unit
    partials per scan partition before the user exchange (the
    hand-built map-side combine stateful ops don't get): hourly sums
    are additive integers, so the kernel folds partials exactly as it
    folded raw events and the oracle is unchanged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_events_stream_chunked(
        spark, sf_dir, n_chunks=4, order="time"
    ).select("user_id", "ts", "value")

    US_HOUR = 3_600_000_000

    def presum(batch_iter):
        # accumulated across the partition's Arrow batch iterator and
        # emitted ONCE per partition (_a18_partials-style; ADVICE r13):
        # user-exchange traffic is O(scan partitions × users × hours),
        # never × Arrow-batch count. Compress bound as in t22.
        acc_uid: list = []
        acc_hs: list = []
        acc_u: list = []
        acc_len = 0

        def _fold():
            uid = np.concatenate(acc_uid)
            hs = np.concatenate(acc_hs)
            u = np.concatenate(acc_u)
            order = np.lexsort((hs, uid))
            uid, hs, u = uid[order], hs[order], u[order]
            nb = np.ones(len(uid), dtype=bool)
            nb[1:] = (uid[1:] != uid[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            return uid[i], hs[i], np.add.reduceat(u, i).astype("int64")

        for pdf in batch_iter:
            if not len(pdf):
                continue
            hs = np.asarray(
                pdf["ts"].values, dtype="datetime64[ns]"
            ).astype("int64") // (US_HOUR * 1000)
            uid = pdf["user_id"].to_numpy(np.int64)
            # floor per EVENT (the engines' expression), then exact
            # integer partial sums — order-free
            us = np.floor(
                pdf["value"].to_numpy(dtype="float64") * 1000000 + 0.5
            ).astype("int64")
            order = np.lexsort((hs, uid))
            uid, hs, us = uid[order], hs[order], us[order]
            nb = np.ones(len(uid), dtype=bool)
            nb[1:] = (uid[1:] != uid[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            acc_uid.append(uid[i])
            acc_hs.append(hs[i])
            acc_u.append(np.add.reduceat(us, i).astype("int64"))
            acc_len += len(i)
            if acc_len > 2_000_000:
                fu, fh, fv = _fold()
                acc_uid[:], acc_hs[:], acc_u[:] = [fu], [fh], [fv]
                acc_len = len(fu)
        if acc_uid:
            fu, fh, fv = _fold()
            yield pd.DataFrame({"user_id": fu, "hnum": fh, "u": fv})

    partials = stream.mapInPandas(
        presum, schema="user_id long, hnum long, u long"
    )

    def ewma(key, pdf_iter, state: GroupState):
        # SHARD-keyed state (r14, the t22 layout): one state group per
        # hash shard, holding every shard user's trailing sums as
        # flattened parallel arrays. Keying by user_id cost one python
        # call + one state ser/de PER USER PER BATCH (~15k groups at
        # sf0.1; the r14 stage profile charged the four stateful
        # stages ~266 µs/group, ~4 s of the 6.9 s wall); a shard sees
        # the same per-(user, hour) partials and runs the identical
        # per-user closure logic, so the emitted rows — and the oracle
        # — are unchanged while group overhead drops to O(shards).
        (_shard,) = key
        per_user: dict[int, list] = {}
        if state.exists:
            uids_a, hcnt_a, hrs_f, uns_f, oh_a, ou_a = state.get
            pos = 0
            for u_id, hc, oh_v, ou_v in zip(uids_a, hcnt_a, oh_a, ou_a):
                per_user[u_id] = [
                    list(hrs_f[pos : pos + hc]),
                    list(uns_f[pos : pos + hc]),
                    oh_v if oh_v >= 0 else None,
                    ou_v,
                ]
                pos += hc
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            uid = pdf["user_id"].to_numpy(np.int64)
            hs = pdf["hnum"].to_numpy(np.int64)
            us = pdf["u"].to_numpy(np.int64)
            # fold duplicate (user, hour) partials from different scan
            # partitions, then walk each user's hours in order — the
            # same order-free integer merge the per-user form did
            order = np.lexsort((hs, uid))
            uid, hs, us = uid[order], hs[order], us[order]
            nb = np.ones(len(uid), dtype=bool)
            nb[1:] = (uid[1:] != uid[:-1]) | (hs[1:] != hs[:-1])
            i = np.flatnonzero(nb)
            uid_k = uid[i]
            hour_k = hs[i]
            u_per = np.add.reduceat(us, i).astype("int64")
        else:
            uid_k = hour_k = u_per = np.empty(0, dtype="int64")
        out: list[tuple] = []
        for u_id, h, u_h in zip(uid_k.tolist(), hour_k.tolist(), u_per.tolist()):
            st = per_user.get(u_id)
            if st is None:
                st = [[], [], None, 0]
                per_user[u_id] = st
            hrs, uns, oh, ou = st
            if oh is None:
                st[2], st[3] = h, u_h
            elif h == oh:
                st[3] = ou + u_h  # open hour straddles a batch boundary
            else:
                # oh closes: its sum and all trailing sums are final
                hrs.append(oh)
                uns.append(ou)
                scaled = sum(
                    u << (S21_LAGS - (oh - hr))
                    for hr, u in zip(hrs, uns)
                    if oh - hr <= S21_LAGS
                )
                out.append((u_id, oh, ou, scaled))
                # prune past the horizon of any FUTURE closing hour
                # (the next closure is > oh, so hr < oh - LAGS + 1 can
                # never contribute again); bounds state at <= 25 pairs
                while hrs and hrs[0] < h - S21_LAGS:
                    hrs.pop(0)
                    uns.pop(0)
                st[2], st[3] = h, u_h
        uids_o, hcnt_o, hrs_o, uns_o, oh_o, ou_o = [], [], [], [], [], []
        for u_id in sorted(per_user):
            hrs, uns, oh, ou = per_user[u_id]
            uids_o.append(u_id)
            hcnt_o.append(len(hrs))
            hrs_o.extend(hrs)
            uns_o.extend(uns)
            oh_o.append(oh if oh is not None else -1)
            ou_o.append(ou)
        state.update((uids_o, hcnt_o, hrs_o, uns_o, oh_o, ou_o))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "hour_num", "units_now", "ewma_scaled"]
            )

    res = (
        partials.withColumn("shard", F.pmod("user_id", F.lit(S21_SHARDS)))
        .groupBy("shard")
        .applyInPandasWithState(
            ewma,
            outputStructType=(
                "user_id long, hour_num long, units_now long, ewma_scaled long"
            ),
            stateStructType=(
                "uids array<long>, hcnt array<long>, hrs array<long>, "
                "uns array<long>, oh array<long>, ou array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # State-group count is input-sized (one per user: ~15k at sf0.1),
    # so the 2-partition tiny-state profile serializes the per-group
    # python work onto two tasks — size state partitions to the input
    # like s19 (rows // per-partition target, clamped). Measured
    # fresh-session mins (query_profile, r14): sf0.1 2p 11.1 s,
    # 4p 8.6 s, 8p 11.7 s; 10x corpus 2p 36.7 s, 32p 14.9 s — the
    # 25k-events-per-partition divisor keeps both regimes on their
    # measured winner. Emission is partition-count-invariant, so the
    # oracle is unchanged.
    import os as _s21_os

    from sparkstreaming_mq_spark.tables import table_rowcount as _rowcount

    _parts_env = _s21_os.environ.get("SPARK_GRAFT_S21_PARTS")
    if _parts_env is not None:
        s21_parts = int(_parts_env)
    else:
        s21_parts = min(32, max(4, _rowcount(sf_dir, "events") // 25_000))
    return spark.table(
        run_stream(res, "memory", "append", state_partitions=s21_parts).name
    )
