"""Streaming sources/sinks and deterministic replay utilities.

The MQ ingestion path (SURVEY.md §2.1 S1/S2/S8) with an offline
file-replay substitute: ``events.parquet`` replayed through Spark's
file stream source — optionally split into ordered or interleaved
chunk files so multi-micro-batch behavior (watermark advancement,
late-data drops) is reproducible (SURVEY.md §5.3).

Scale notes: the file source checkpoints file offsets exactly like the
kafka source checkpoints partition offsets, so every downstream
operator behaves identically on a real queue; ``maxFilesPerTrigger``
plays the role of ``maxOffsetsPerTrigger`` for bounded micro-batches.

Every stream runs through ``run_stream``. Checkpoint ownership: a
checkpoint the runner creates is deleted when the run ends, failed or
not; a checkpoint the caller passes is kept, because the caller still
needs it (a restart on the same WAL, or a lazy ``statestore`` read).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparkstreaming_mq_spark.session import apply_runtime_conf
from sparkstreaming_mq_spark.tables import cache_key, load_table

# Schema of the materialized replay files: ``tables.load_table`` has
# already converted the fixture's ns-long ts to a µs TimestampType
# before the chunks are written, so the stream sees a proper
# event-time column directly.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Replay-cache version: bump whenever load_table's column shaping (e.g.
# the ns→µs conversion) changes, so stale /tmp caches from an older code
# version can never feed a replay (a v1→v2 off-by-one-µs bite: the float
# ns division fix made cached chunks disagree with fresh batch loads).
# v3: events.ts normalized NTZ→LTZ (fixture regenerated as µs NTZ).
# v5: parallel chunk builder — identical chunk MEMBERSHIP (exact ntile
# arithmetic / pmod), but files are written by one partitioned job with
# deterministic within-chunk (ts, event_id) row order and explicit
# mtime spacing, replacing the single-task global window + per-chunk
# coalesce(1) loop.
# v6: within-chunk sort now leads with __chunk so the dynamic-partition
# writer's own partition-column sort can't reorder equal-key rows via
# spill-merge instability; same logical order on this data, but the
# plan changed, so cached chunks must rebuild.
_CACHE_VERSION = 6


def _write_chunk_files(
    df_with_chunk: DataFrame, out: str, n_chunks: int, sort_cols: list[str]
) -> None:
    """Materialize ``__chunk``-labelled rows as exactly one parquet
    file per chunk, in ONE parallel job (the old builder looped
    n_chunks filtered full scans, each coalesce(1)).

    ``repartition(n_chunks, "__chunk")`` co-locates every chunk in a
    single task (hash collisions merely give one task two chunks — the
    partitionBy writer still emits one file per chunk value), the
    partition-local sort pins within-file row order, and the writer
    runs all chunks concurrently. The sort leads with ``__chunk``: the
    dynamic-partition writer requires its output sorted by the
    partition column and would otherwise insert its OWN sort on top,
    leaving the ``sort_cols`` order to survive only via sorter
    stability — which spill-merge at scale does not guarantee.
    Sorting (``__chunk``, *sort_cols) satisfies the writer's
    requirement in the child plan itself, so the within-file order is
    plan-guaranteed (replay order feeds the microbatch-mechanics
    oracles: t6/t8/t10, full-replay dedup).
    File mtimes are then set explicitly,
    spaced 10 s apart in chunk order — the file stream source replays
    oldest-first, and an explicit clock is robust where write-order
    mtimes (the old scheme) could collide at ms resolution.
    """
    import glob
    import time

    tmp = os.path.join(out, "_build")
    (
        df_with_chunk.repartition(n_chunks, "__chunk")
        .sortWithinPartitions("__chunk", *sort_cols)
        .write.partitionBy("__chunk")
        .mode("overwrite")
        .parquet(tmp)
    )
    base_t = time.time()
    for k in range(n_chunks):
        parts = sorted(glob.glob(os.path.join(tmp, f"__chunk={k}", "part-*")))
        assert len(parts) == 1, (
            f"chunk {k}: expected exactly one file, got {len(parts)} "
            f"(empty chunks would change the micro-batch count)"
        )
        chunk_dir = os.path.join(out, f"chunk_{k:03d}")
        os.makedirs(chunk_dir, exist_ok=True)
        # keep the part-*.parquet convention: the MQReplay Python
        # DataSource readers glob for it inside each chunk dir
        dst = os.path.join(chunk_dir, "part-00000.parquet")
        os.replace(parts[0], dst)
        os.utime(dst, (base_t + 10 * k, base_t + 10 * k))
    shutil.rmtree(tmp)


def _exact_ntile_chunks(
    events: DataFrame, n_chunks: int, spark: SparkSession
) -> DataFrame:
    """``__chunk`` = ntile(n_chunks) over (ts, event_id) — the exact
    same chunk membership as ``F.ntile(n).over(Window.orderBy(...))``,
    WITHOUT that window's empty partitionBy collapsing the corpus into
    one task. Delegates to the generalized ``exact_ntile``
    (operators/setops.py — the o16 prefix-offset recipe, also the
    engine of the a16 equi-depth histogram where the membership parity
    is cross-engine hash-proven)."""
    from sparkstreaming_mq_spark.operators.setops import exact_ntile

    return (
        exact_ntile(events, n_chunks, ["ts", "event_id"])
        .withColumnRenamed("__tile", "__chunk")
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 substitute: unbounded DataFrame replaying events.parquet
    through the file stream source (single replay file → single
    micro-batch under Trigger.AvailableNow). The file source requires a
    *directory*, so the event file is materialized once into a replay
    dir (read-only testdata is never touched)."""
    return read_events_stream_chunked(spark, sf_dir, n_chunks=1, order="time")


def chunked_events_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, order: str = "time"
) -> str:
    """Materialize events.parquet as ``n_chunks`` replay files under
    /tmp (cached per (sf, n, order)).

    order='time': chunk k holds the k-th time range → in-order replay,
    watermark advances monotonically between micro-batches.
    order='hash': chunk k holds rows with hash(event_id)%n == k → every
    chunk spans the full time range, so later chunks deliver events far
    behind the watermark — the deterministic late-data scenario.
    """
    key = f"{cache_key(sf_dir, 'events')}_{n_chunks}_{order}_v{_CACHE_VERSION}"
    out = os.path.join(tempfile.gettempdir(), "sparkgraft_replay", key)
    done = os.path.join(out, "_READY")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    events = load_table(spark, sf_dir, "events")
    if n_chunks == 1:
        ranked = events.withColumn("__chunk", F.lit(0))
    elif order == "time":
        # chunk by ts order, exact ntile membership computed in parallel
        ranked = _exact_ntile_chunks(events, n_chunks, spark)
    else:
        # event_id % n, NOT a hash: same full-time-range interleave per
        # chunk (ids are uncorrelated enough with ts), but expressible
        # in ANSI SQL — which is what lets t6's watermark-drop replay
        # carry a value-exact DuckDB oracle. xxhash64 would be
        # Spark-only and force the slot back to rows-tier.
        ranked = events.withColumn(
            "__chunk", F.pmod(F.col("event_id"), F.lit(n_chunks))
        )
    _write_chunk_files(ranked, out, n_chunks, ["ts", "event_id"])
    open(done, "w").close()
    return out


def read_events_stream_chunked(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    order: str = "time",
) -> DataFrame:
    """Multi-micro-batch replay: one chunk file per trigger."""
    apply_runtime_conf(spark)
    base = chunked_events_dir(spark, sf_dir, n_chunks, order)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{base}/chunk_*")
    )


DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_docs_stream_chunked(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Documents replayed as an incoming-crawl stream, one chunk file
    per micro-batch (hash-partitioned by doc_id — arrival order is
    irrelevant to the stateless decontamination join)."""
    apply_runtime_conf(spark)
    key = f"{cache_key(sf_dir, 'documents')}_{n_chunks}_docs_v{_CACHE_VERSION}"
    out = os.path.join(tempfile.gettempdir(), "sparkgraft_replay", key)
    done = os.path.join(out, "_READY")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "__chunk", F.pmod("doc_id", F.lit(n_chunks)).cast("int")
        )
        _write_chunk_files(docs, out, n_chunks, ["doc_id"])
        open(done, "w").close()
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(f"{out}/chunk_*")
    )


# State-store partition count for local finite replays: each stateful
# partition pays per-micro-batch store open/commit/checkpoint overhead,
# which dominates at test scale (r3 ladder at sf0.1: 32 partitions x 4
# batches spent more time in store maintenance than in data; 8 → 1.87s,
# 4 → 1.39s, 2 → 1.23s warm for the tumbling agg; r4 re-measure with
# noop materialization confirmed 2 beats 4 by ~15-20% on both s1 and
# t2 with identical results). A real cluster sizes this to its
# parallelism BEFORE the first run (the count is frozen into the
# checkpoint) — 2 is the local[32] fixture profile, not a scale claim.
STREAM_SHUFFLE_PARTITIONS = 2


def run_stream(
    df: DataFrame,
    sink,
    output_mode: str = "append",
    *,
    checkpoint: str | None = None,
    path: str | None = None,
    state_partitions: int | None = STREAM_SHUFFLE_PARTITIONS,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion under
    Trigger.AvailableNow and return the terminated query — the one
    start/await path every streaming query in the engine goes through.

    ``sink`` is ``"memory"`` (S5: read the result back with
    ``spark.table(q.name)``), ``"parquet"`` (S6: append-mode files
    under ``path``) or a foreachBatch callable ``fn(batch_df,
    epoch_id)`` (S7: the idempotent-upsert extension point). The
    checkpoint (S9) gives every run the offset/commit WAL a production
    query has; see the module docstring for who deletes it.

    ``state_partitions`` pins spark.sql.shuffle.partitions for the run
    (a stateful operator freezes the value into its checkpoint at
    query start). The default is the tiny-state fixture profile;
    operators whose state-group count or output is input-sized pass
    their own count — their cost is the per-group work or writing the
    generated rows, not state maintenance, so MORE partitions win at
    every measured scale (s19 10x: 2 -> 112 s, 8 -> 33 s, 32 -> 16 s;
    gates insensitive). None keeps the session's value."""
    spark = df.sparkSession
    writer = df.writeStream.queryName(f"sink_{uuid.uuid4().hex[:12]}")
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif sink == "parquet":
        writer = writer.format("parquet").option("path", path)
    elif sink == "memory":
        writer = writer.format("memory")
    else:
        raise ValueError(f"unknown sink {sink!r}")
    owned = checkpoint is None
    ckpt = tempfile.mkdtemp(prefix="sparkgraft_ckpt_") if owned else checkpoint
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            writer.outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if owned:
            shutil.rmtree(ckpt, ignore_errors=True)
    return q


# --- Kafka connector builders (S1/S8 proper; need kafka jars on the cluster) --

KAFKA_ENVELOPE_COLS = ("key", "value", "topic", "partition", "offset", "timestamp")


def kafka_reader(
    spark: SparkSession,
    brokers: str,
    subscribe: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """Build the real MQ source (SURVEY.md §2.1 S1): kafka envelope
    records (key/value binary + topic/partition/offset/timestamp).
    Offline container has no kafka connector jars, so callers must be
    on a cluster that ships spark-sql-kafka; everything downstream of
    the returned reader is identical to the file-replay path."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", subscribe)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def kafka_writer(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """S8 MQ sink: produce (key, value) back to a topic."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


# --- S12: custom Python data source (Spark 4 DataSource API) ------------------

try:  # pyspark.sql.datasource exists in Spark 4; guard for older runtimes
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class MQReplayDataSource(DataSource):
        """A from-scratch connector on Spark 4's Python DataSource API
        that presents the replay directory as a **message-queue
        envelope** source: every record is (topic, part_id, offset,
        ts, key, value) with the payload kept as an opaque JSON string
        — byte-for-byte the kafka source's contract, minus the jars
        this container lacks. One InputPartition per chunk file — the
        planner schedules chunks in parallel exactly as it schedules
        kafka topic-partitions, and each partition streams
        Arrow RecordBatches (zero row-at-a-time Python).
        """

        @classmethod
        def name(cls) -> str:
            return "mqreplay"

        def schema(self) -> str:
            return (
                "topic string, part_id int, offset bigint, "
                "ts timestamp, key string, value string"
            )

        def reader(self, schema):  # noqa: ANN001 - API signature
            return _MQReplayReader(self.options)

    class _MQReplayReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            self.topic = options.get("topic", "events")

        def partitions(self):
            import glob

            chunks = sorted(glob.glob(os.path.join(self.path, "chunk_*")))
            return [InputPartition((i, c)) for i, c in enumerate(chunks)]

        def _pq_filters(self):
            """Parquet-level predicate for the chunk reads; the base
            reader pushes nothing (None). The pushdown subclass returns
            the offset bounds it accepted in ``pushFilters`` so the
            row-group statistics can skip I/O at the source."""
            return None

        def read(self, partition):
            import glob

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            idx, chunk = partition.value
            for f in sorted(glob.glob(os.path.join(chunk, "part-*.parquet"))):
                t = pq.read_table(
                    f, columns=["event_id", "ts", "props"], filters=self._pq_filters()
                )
                n = t.num_rows
                # Spark writes TimestampType as INT96 by default, which
                # pyarrow surfaces as ns precision — Arrow interchange
                # into Spark requires µs.
                ts_us = pc.cast(
                    t.column("ts"), pa.timestamp("us", tz="UTC")
                ).combine_chunks()
                yield pa.record_batch(
                    [
                        pa.array([self.topic] * n, pa.string()),
                        pa.array([idx] * n, pa.int32()),
                        t.column("event_id").combine_chunks(),
                        ts_us,
                        pc.cast(t.column("event_id"), pa.string()).combine_chunks(),
                        t.column("props").combine_chunks(),
                    ],
                    names=["topic", "part_id", "offset", "ts", "key", "value"],
                )

    class MQPushdownDataSource(DataSource):
        """The pushdown-capable variant of ``MQReplayDataSource``
        (Spark 4.1 Python DataSource filter pushdown,
        ``spark.sql.python.filterPushdown.enabled``): the reader
        ACCEPTS EqualTo(part_id) — the kafka assign()/seek analogy,
        pruning whole queue partitions at PLANNING time — and
        GreaterThanOrEqual/LessThan on ``offset``, which it lowers to
        parquet row-group predicates inside the chunk reads; every
        other filter is returned to Spark unhandled. Connector-level
        pruning is what keeps a 100 TB backlog scan from touching
        every partition when the consumer only needs one."""

        @classmethod
        def name(cls) -> str:
            return "mqreplay_pushdown"

        def schema(self) -> str:
            return (
                "topic string, part_id int, offset bigint, "
                "ts timestamp, key string, value string"
            )

        def reader(self, schema):  # noqa: ANN001 - API signature
            return _MQPushdownReader(self.options)

    class _MQPushdownReader(_MQReplayReader):
        def __init__(self, options):
            super().__init__(options)
            self.part_eq: int | None = None
            self.min_offset: int | None = None  # offset >= min_offset
            self.max_offset: int | None = None  # offset <  max_offset

        def pushFilters(self, filters):
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThanOrEqual,
                LessThan,
            )

            unhandled = []
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part_id",):
                    self.part_eq = f.value
                elif isinstance(f, GreaterThanOrEqual) and f.attribute == ("offset",):
                    v = int(f.value)
                    if self.min_offset is None or v > self.min_offset:
                        self.min_offset = v
                elif isinstance(f, LessThan) and f.attribute == ("offset",):
                    v = int(f.value)
                    if self.max_offset is None or v < self.max_offset:
                        self.max_offset = v
                else:
                    unhandled.append(f)
            return unhandled

        def partitions(self):
            parts = super().partitions()
            if self.part_eq is not None:
                parts = [p for p in parts if p.value[0] == self.part_eq]
            if not parts:
                # An empty partition list makes Spark schedule one task
                # with partition=None (measured: read(None) crashed on a
                # no-match part_id) — hand the planner a zero-row
                # sentinel instead.
                parts = [InputPartition((self.part_eq, None))]
            return parts

        def read(self, partition):
            if partition.value[1] is None:  # the no-match sentinel
                return
            yield from super().read(partition)

        def _pq_filters(self):
            conds = []
            if self.min_offset is not None:
                conds.append(("event_id", ">=", self.min_offset))
            if self.max_offset is not None:
                conds.append(("event_id", "<", self.max_offset))
            return conds or None

except ImportError:  # pragma: no cover
    MQReplayDataSource = None  # type: ignore[assignment]
    MQPushdownDataSource = None  # type: ignore[assignment]


def make_mq_stream_datasource():
    """Build the streaming MQ DataSource class ON DEMAND, inside a
    function, so cloudpickle serializes it BY VALUE: the streaming
    reader is planned in a separate python process that does NOT see
    ``addPyFile`` artifacts (unlike task workers), so a module-level
    class — pickled by reference — would need this package on that
    process's PYTHONPATH. A function-local class has no importable
    module path and ships whole. Raises ImportError below Spark 4."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _MQReplayStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.path = options.get("path")

        def initialOffset(self):
            return {"chunk": 0}

        def _chunks(self):
            import glob
            import os

            return sorted(glob.glob(os.path.join(self.path, "chunk_*")))

        def _rows(self, lo: int, hi: int):
            import glob
            import os

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            chunks = self._chunks()
            for i in range(lo, min(hi, len(chunks))):
                for f in sorted(
                    glob.glob(os.path.join(chunks[i], "part-*.parquet"))
                ):
                    t = pq.read_table(
                        f, columns=["event_id", "ts", "event_type", "value"]
                    )
                    ts = pc.cast(t.column("ts"), pa.timestamp("us", tz="UTC"))
                    yield from zip(
                        [i] * t.num_rows,
                        t.column("event_id").to_pylist(),
                        ts.to_pylist(),
                        t.column("event_type").to_pylist(),
                        t.column("value").to_pylist(),
                    )

        def read(self, start):
            lo = start["chunk"]
            hi = len(self._chunks())
            if lo >= hi:
                return iter([]), start
            # list-backed iterator: the engine's prefetch cache
            # copy.copy()s it, which a generator can't survive
            return iter(list(self._rows(lo, hi))), {"chunk": hi}

        def readBetweenOffsets(self, start, end):
            return iter(list(self._rows(start["chunk"], end["chunk"])))

    class MQReplayStreamDataSource(DataSource):
        """Streaming twin of ``MQReplayDataSource``: the same replay
        directory served through Spark 4's SimpleDataSourceStreamReader
        — a from-scratch streaming connector with REAL offset
        management (initialOffset → read → commit, persisted in the
        checkpoint WAL exactly like kafka consumer offsets). Offsets
        count whole chunks; a read drains every chunk currently on
        disk (Trigger.AvailableNow prefetches exactly one read), so
        the replay is deterministic and the offset log still records
        the consumed range end-to-end.
        """

        @classmethod
        def name(cls) -> str:
            return "mqreplay_stream"

        def schema(self) -> str:
            return (
                "part_id int, offset bigint, ts timestamp, "
                "event_type string, value double"
            )

        def simpleStreamReader(self, schema):  # noqa: ANN001 - API signature
            return _MQReplayStreamReader(self.options)

    return MQReplayStreamDataSource


try:  # batch-write side of the Python DataSource API (Spark 4)
    from dataclasses import dataclass

    from pyspark.sql.datasource import (  # noqa: F811 - same module
        DataSource as _DS,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _MQSinkCommit(WriterCommitMessage):
        path: str
        n: int

    class MQSinkDataSource(_DS):
        """S8 (MQ/kafka sink) as a from-scratch Python DataSource
        WRITER: each write task is a producer that appends its
        partition's envelope records to the broker as one JSON-lines
        segment, and delivery is TWO-PHASE — tasks write `*.tmp`
        segments and return commit messages; only the driver-side
        `commit()` renames them and publishes the manifest (an abort
        deletes the tmps), which is exactly the transactional-producer
        protocol a kafka sink runs (send → commitTransaction). The
        local filesystem stands in for the broker network — the
        task/commit topology is the real thing, the jars are not in
        this container."""

        @classmethod
        def name(cls) -> str:
            return "mqsink"

        def schema(self) -> str:
            return "topic string, key bigint, value string, htype string"

        def writer(self, schema, overwrite):  # noqa: ANN001 - API signature
            return _MQSinkWriter(self.options)

    class _MQSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import json
            import uuid

            data_dir = os.path.join(self.path, "data")
            os.makedirs(data_dir, exist_ok=True)
            tmp = os.path.join(data_dir, f"seg-{uuid.uuid4().hex}.jsonl.tmp")
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(
                        json.dumps(
                            {
                                "topic": row.topic,
                                "key": row.key,
                                "value": row.value,
                                "htype": row.htype,
                            },
                            sort_keys=True,
                        )
                        + "\n"
                    )
                    n += 1
            return _MQSinkCommit(tmp, n)

        def commit(self, messages):
            import glob as _glob
            import json

            final = []
            for m in messages:
                if m is None:
                    continue
                dst = m.path[: -len(".tmp")]
                os.replace(m.path, dst)
                final.append(os.path.basename(dst))
            # sweep orphan tmps from failed-then-retried task attempts:
            # abort() only runs on whole-job failure, so a successful
            # job must not leave a retried attempt's *.tmp in the
            # broker dir (only committed segments are data).
            for orphan in _glob.glob(os.path.join(self.path, "data", "*.tmp")):
                try:
                    os.remove(orphan)
                except OSError:
                    pass
            # manifest publish is atomic (tmp + rename) like the
            # segments themselves: a reader never sees a torn manifest.
            manifest = os.path.join(self.path, "_MANIFEST.json")
            with open(manifest + ".tmp", "w") as f:
                json.dump({"segments": sorted(final)}, f)
            os.replace(manifest + ".tmp", manifest)

        def abort(self, messages):
            for m in messages or []:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

except ImportError:  # pragma: no cover
    MQSinkDataSource = None  # type: ignore[assignment]


def ship_package(spark: SparkSession) -> None:
    """Make ``sparkstreaming_mq_spark`` importable on EXECUTOR python
    workers: Python DataSource classes are cloudpickled BY REFERENCE
    (unlike UDF closures), so workers must import this package — which
    fails when the driver process was launched outside the repo (the
    real harness does exactly that). Zip the package once per process
    (keyed by the package's content fingerprint, so a code edit always
    rebuilds) and ``addPyFile`` it; Spark distributes the zip and
    prepends it to every worker's sys.path — the same mechanism that
    deploys dependencies on a real cluster."""
    import hashlib
    import zipfile

    import sparkstreaming_mq_spark as pkg

    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    pkg_fp = hashlib.md5()
    for dirpath, _dirs, files in sorted(
        os.walk(os.path.join(root, "sparkstreaming_mq_spark"))
    ):
        for f in sorted(files):
            if f.endswith(".py"):
                st = os.stat(os.path.join(dirpath, f))
                pkg_fp.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    # zip name keyed by package content fingerprint: a stale zip after a
    # code edit would ship LAST session's classes to executors (the
    # CLAUDE.md stale-cache rule, applied to code instead of data)
    dst = os.path.join(
        tempfile.gettempdir(),
        "sparkgraft_pkg",
        f"sparkstreaming_mq_spark_{pkg_fp.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(dst):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = dst + f".{uuid.uuid4().hex}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            pkg_dir = os.path.join(root, "sparkstreaming_mq_spark")
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, dst)
    spark.sparkContext.addPyFile(dst)
