"""Pipeline: the TopicProcessor-equivalent configuration + lifecycle surface.

Maps the reference's config/run-loop onto Structured Streaming
(reference: /root/reference/topic_processor.go:115-263,
/root/reference/config.go:15-60):

| kasper                               | here                                    |
|--------------------------------------|-----------------------------------------|
| Config.TopicProcessorName            | PipelineConfig.name (checkpoint dir +   |
|                                      | kafka group.id prefix)                  |
| Config.InputTopics                   | PipelineConfig.input_topics (subscribe) |
| Config.InputPartitions               | automatic (Spark task per partition;    |
|                                      | stateful queries get one state          |
|                                      | partition per source partition)         |
| Config.BatchSize (default 1000)      | max_offsets_per_trigger                 |
| Config.BatchWaitDuration (default 5s)| trigger processingTime                  |
| MessageProcessor.Process             | transform: DataFrame -> DataFrame       |
| Sender (buffered, acked before commit)| sink write; offsets commit to the      |
|                                      | checkpoint after the sink batch (A6)    |
| RunLoop()                            | start() -> StreamingQuery               |
| Close()                              | stop()                                  |
| HasConsumedAllMessages (A10)         | run_available_now() bounded run         |

Delivery semantics: the reference is at-least-once (produce, await acks,
then commit offsets — /root/reference/topic_processor.go:240-263). Spark's
checkpoint + sink-epoch protocol gives the same or stronger (exactly-once
into idempotent/transactional sinks), in the same produce-then-commit order.

Scale notes: one Spark task per Kafka partition; no alignment constraint
between topics (kasper required equal partition counts —
/root/reference/README.md:36-39); rate limiting via maxOffsetsPerTrigger
replaces kasper's unbuffered-channel backpressure.

State sizing: a stateful query started here gets one shuffle/state
partition per source partition (the largest count over the sources this
Pipeline built), the analogue of kasper's one processor per partition.
Each micro-batch loads and commits one state store per state partition,
so a session default sized for batch jobs (32) would make every trigger
pay for 32 stores on a 4-partition topic. The count is known for
topic_dir_source; for kafka_source and file_source (and a topic dir with
no partitions yet) it is not, and the session's
spark.sql.shuffle.partitions applies. Spark pins the count in the
checkpoint's offset log, so a resumed query keeps the count it first ran
with.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The Kafka source's fixed envelope — mirrors sarama.ConsumerMessage
# (/root/reference/topic_processor.go:104-108): Key/Value opaque bytes plus
# topic/partition/offset coordinates.
MESSAGE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


@dataclass
class PipelineConfig:
    """Config surface mirroring /root/reference/config.go:15-38."""

    name: str
    input_topics: list[str] = field(default_factory=list)
    brokers: list[str] = field(default_factory=lambda: ["localhost:9092"])
    batch_size: int = 1000  # per-trigger record cap (A3)
    batch_wait_seconds: float = 5.0  # processing-time trigger (A3)
    checkpoint_root: str = "/tmp/kasper_spark-checkpoints"
    starting_offsets: str = "earliest"
    fail_on_data_loss: bool = False  # kasper clamps stale offsets (A1); same spirit

    @property
    def group_id_prefix(self) -> str:
        # consumer-group naming parity: kasper-topic-processor-{name}
        # (/root/reference/config.go:31-33)
        return f"kasper-topic-processor-{self.name}"

    @property
    def checkpoint_location(self) -> str:
        return os.path.join(self.checkpoint_root, self.name)


def _uses_processing_time_timeout(out: DataFrame) -> bool:
    """True when the plan contains a stateful operator armed with a
    processing-time timeout/timer: applyInPandasWithState with
    ProcessingTimeTimeout, or transformWithStateInPandas with
    timeMode=ProcessingTime. Detected from the analyzed plan string
    (the timeout conf prints inside the FlatMapGroupsInPandasWithState /
    TransformWithStateInPySpark nodes)."""
    plan = out._jdf.queryExecution().analyzed().toString()
    if "ProcessingTimeTimeout" in plan:
        return True
    return any(
        "TransformWithState" in line and "ProcessingTime" in line
        for line in plan.splitlines()
    )


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str | None):
    """Set ``key`` on the session for the duration of the block and put
    back what was there before (unset stays unset). ``value=None`` leaves
    the session alone. Another thread that uses the same session while the
    block runs sees the temporary value."""
    if value is None:
        yield
        return
    conf = spark.conf
    prev = conf.get(key, None)
    conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


class Pipeline:
    """Build and run one streaming pipeline: source -> transform -> sink.

    ``transform`` is the declarative analog of MessageProcessor.Process
    (/root/reference/topic_processor.go:101-109): it receives the source
    DataFrame (message envelope rows) and returns the output DataFrame.
    Escape hatches for imperative per-batch logic: ``for_each_batch`` (the
    moral equivalent of Process() — full DataFrame API per micro-batch).
    """

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config
        self._query = None
        # partition count of every source built so far; None = unknown
        self._source_partitions: set[int | None] = set()

    def state_partitions(self) -> int | None:
        """Shuffle/state partition count for the queries this Pipeline
        starts: the largest partition count over the sources it built, or
        None (keep the session's setting) when no source was built or any
        source's count is unknown."""
        counts = self._source_partitions
        if not counts or None in counts:
            return None
        return max(counts)

    # ---- sources (A1/A8) -------------------------------------------------

    def kafka_source(self) -> DataFrame:
        """Kafka scan: N topics in one subscription; Spark co-groups by
        (topic, partition) without kasper's equal-partition-count
        constraint (A8)."""
        cfg = self.config
        # the partition count would need a broker call; the session's
        # spark.sql.shuffle.partitions is the override
        self._source_partitions.add(None)
        return (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", ",".join(cfg.brokers))
            .option("subscribe", ",".join(cfg.input_topics))
            .option("startingOffsets", cfg.starting_offsets)
            .option("maxOffsetsPerTrigger", str(cfg.batch_size))
            .option("failOnDataLoss", str(cfg.fail_on_data_loss).lower())
            .option("kafka.group.id", cfg.group_id_prefix)
            .load()
        )

    def file_source(self, path: str, schema: StructType | str, fmt: str = "json") -> DataFrame:
        """Broker-less source for CI: file stream with the same downstream
        surface (SURVEY.md §7 — every streaming test must run without
        Kafka). One file per 'message batch'."""
        self._source_partitions.add(None)
        return (
            self.spark.readStream.format(fmt)
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(path)
        )

    def topic_dir_source(self, path: str, rate_limited: bool = False) -> DataFrame:
        """Broker-less Kafka-twin source: the kasper_topic_dir connector
        (kasper_spark/sources/topic_dir.py) — partitioned ordered logs with
        monotone offsets, checkpoint resume (A2) and opt-in per-trigger
        batch-size caps (A3), through Spark's real connector machinery.
        This is the sandbox-executable form of kafka_source(); both expose
        the same downstream surface.

        ``rate_limited=True`` applies config.batch_size as the per-trigger
        cap — for LIVE (processing-time trigger) runs only: Python stream
        sources don't implement Trigger.AvailableNow natively, so Spark
        drains bounded runs as ONE batch up to latestOffset, and a cap
        would make that single batch stop short of the end of the log.
        Default off so run_available_now() always consumes everything."""
        from kasper_spark.sources.topic_dir import (
            partition_count,
            register_topic_dir_source,
        )

        register_topic_dir_source(self.spark)
        self._source_partitions.add(partition_count(path) or None)
        reader = self.spark.readStream.format("kasper_topic_dir").option("path", path)
        if rate_limited:
            reader = reader.option(
                "maxRecordsPerTrigger", str(self.config.batch_size)
            )
        return reader.load()

    # ---- sinks (A5/B1) ---------------------------------------------------

    def start(
        self,
        out: DataFrame,
        sink_format: str = "memory",
        output_mode: str = "append",
        query_name: str | None = None,
        available_now: bool = False,
        sink_options: dict[str, str] | None = None,
        for_each_batch: Callable[[DataFrame, int], None] | None = None,
    ):
        """Start the query (RunLoop equivalent). ``available_now=True`` is
        the bounded-consumption mode: drain everything that exists, then
        stop — kasper's HasConsumedAllMessages loop (A10,
        /root/reference/topic_processor.go:164-175)."""
        cfg = self.config
        if available_now and _uses_processing_time_timeout(out):
            # A bounded (availableNow) run of a plan with a processing-time
            # timeout never terminates: after the data drains, Spark keeps
            # scheduling empty micro-batches to advance the processing-time
            # clock for the armed timers (observed: 24+ consecutive 0-row
            # epochs, isActive forever — round-3 postmortem). Refuse loudly
            # instead of hanging the caller.
            raise ValueError(
                "available_now=True cannot drain a plan with a processing-"
                "time timeout (applyInPandasWithState ProcessingTimeTimeout "
                "/ transformWithState timeMode=ProcessingTime): Spark keeps "
                "constructing empty micro-batches for the armed timers and "
                "the query never terminates. Run it with the processing-"
                "time trigger (start(..., available_now=False)) and stop() "
                "it explicitly, or build the operator with ttl_ms=None."
            )
        writer = out.writeStream.outputMode(output_mode).option(
            "checkpointLocation", self.config.checkpoint_location
        )
        if for_each_batch is not None:
            writer = writer.foreachBatch(for_each_batch)
        else:
            writer = writer.format(sink_format)
            if query_name and sink_format == "memory":
                writer = writer.queryName(query_name)
        for k, v in (sink_options or {}).items():
            writer = writer.option(k, v)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{cfg.batch_wait_seconds} seconds")
        # Spark clones the session for the stream inside start(), so the
        # count reaches this query (and its checkpoint) and nothing else
        n = self.state_partitions()
        with _session_conf(self.spark, _SHUFFLE_PARTITIONS, str(n) if n else None):
            self._query = writer.start()
        return self._query

    def kafka_sink(self, out: DataFrame, topic: str, **kwargs):
        """Buffered, acked Kafka producer (A5): Spark's Kafka sink batches
        per task and the checkpoint commits only after the epoch's writes
        succeed — the reference's produce-then-commit order (A6)."""
        cfg = self.config
        keyed = out
        cols = set(out.columns)
        if not {"key", "value"} <= cols:
            raise ValueError("kafka sink requires 'key' and 'value' columns")
        writer_df = keyed.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
        return self.start(
            writer_df,
            sink_format="kafka",
            sink_options={
                "kafka.bootstrap.servers": ",".join(cfg.brokers),
                "topic": topic,
            },
            **kwargs,
        )

    # ---- lifecycle (A10/A12) --------------------------------------------

    def run_available_now(self, out: DataFrame, **kwargs) -> None:
        """Bounded run: process all available input, await termination."""
        q = self.start(out, available_now=True, **kwargs)
        q.awaitTermination()

    def drain_batched(self, make_out, max_runs: int = 1000, **kwargs) -> int:
        """Bounded drain for RATE-CAPPED Python-connector sources: Python
        stream readers don't implement Trigger.AvailableNow natively, so
        Spark runs availableNow as ONE batch — which, under a
        maxRecordsPerTrigger cap, stops at the cap instead of the end of
        the log. This loop re-runs single-batch drains against the same
        checkpoint until a run consumes zero rows, giving kasper's
        HasConsumedAllMessages semantics (A10) WITH the A3 batch-size
        bound. Returns the number of batches run.

        ``make_out`` builds a fresh output DataFrame per run (streaming
        queries are single-use); sinks must be append-idempotent or
        foreachBatch-based, exactly as for restarts."""
        for i in range(max_runs):
            before = self._latest_source_offsets()
            q = self.start(make_out(), available_now=True, **kwargs)
            q.awaitTermination()
            # Sum input rows over the whole run, not just lastProgress: a
            # stateful query with a watermark can append a trailing no-data
            # batch, whose lastProgress reads numInputRows=0 even though
            # this run DID consume backlog — reading only lastProgress
            # would end the drain early with log still unread.
            rows = sum(
                int(p["numInputRows"])
                for p in (q.recentProgress or [])
                if p and "numInputRows" in p
            )
            self._query = None
            # recentProgress is a CAPPED ring buffer
            # (spark.sql.streaming.numRecentProgressUpdates, default 100):
            # a >100-batch run whose retained tail is all no-data batches
            # sums to 0 even though backlog WAS consumed. The checkpoint's
            # own offset log is the uncapped ground truth — a run that
            # consumed anything advances the per-source offsets, so the
            # drain only ends when BOTH signals read "no progress".
            if rows == 0 and self._latest_source_offsets() == before:
                return i + 1
        raise RuntimeError(f"drain_batched did not reach end of log in {max_runs} runs")

    def _latest_source_offsets(self) -> tuple | None:
        """Per-source offset lines of the newest batch in the checkpoint's
        offset log (None if no batch exists yet). Line 0 of an offset file
        is the version tag and line 1 the batch metadata (watermark /
        processing-time clock — these change even on no-data batches);
        lines 2+ are one offset JSON per source and advance only when the
        source actually handed rows to a batch — the drain signal.

        Local checkpoints read the files directly; remote ones
        (hdfs:// / s3a:// ...) go through the JVM Hadoop FileSystem so the
        uncapped ground-truth check holds off-box too (without this, a
        remote checkpoint would silently degrade the drain guard back to
        the capped recentProgress heuristic)."""
        loc = self.config.checkpoint_location
        d = os.path.join(loc.removeprefix("file:"), "offsets")
        if os.path.isdir(d):
            batches = [int(f) for f in os.listdir(d) if f.isdigit()]
            if not batches:
                return None
            with open(os.path.join(d, str(max(batches))), encoding="utf-8") as fh:
                return tuple(fh.read().splitlines()[2:])
        if "://" not in loc:  # plain local path that simply doesn't exist yet
            return None
        try:
            return self._offsets_via_hadoop_fs(loc)
        except Exception:
            # unreachable filesystem: fall back to the rows==0 heuristic
            # rather than failing the drain outright
            return None

    def _offsets_via_hadoop_fs(self, loc: str) -> tuple | None:
        """Newest offset file's source lines read through the JVM Hadoop
        FileSystem — works for any scheme Spark itself can checkpoint to
        (hdfs://, s3a://, file://, ...). Kept as its own method so tests
        can exercise this exact path with file:// URIs in-sandbox."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(loc.rstrip("/") + "/offsets")
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            return None
        names = [
            s.getPath().getName()
            for s in fs.listStatus(path)
            if s.getPath().getName().isdigit()
        ]
        if not names:
            return None
        newest = jvm.org.apache.hadoop.fs.Path(path, str(max(int(n) for n in names)))
        # IOUtils.toString does not close its input; without the finally,
        # every drain probe would leak a JVM FSDataInputStream until GC.
        stream = fs.open(newest)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return tuple(text.splitlines()[2:])

    def has_consumed_all_messages(self) -> bool:
        """Kasper-shaped caught-up probe (A10,
        /root/reference/topic_processor.go:164-175: committed offset ==
        high-water mark on every partition). True when no source reports
        unconsumed offsets in the last progress; sources without lag
        metrics (file streams) count as caught up once a progress event
        exists. Bounded runs should prefer ``run_available_now`` — this
        probe is for long-running queries."""
        if self._query is None:
            return False
        p = self._query.lastProgress
        if p is None:
            return False
        for src in p.get("sources", []):
            m = src.get("metrics") or {}
            # Spark's Kafka source emits min/max/avgOffsetsBehindLatest (and
            # estimatedTotalBytesBehindLatest) — there is no bare
            # "offsetsBehindLatest" key. max is the per-partition worst case,
            # matching kasper's every-partition-caught-up semantics.
            behind = None
            for key in (
                "maxOffsetsBehindLatest",
                "avgOffsetsBehindLatest",
                "minOffsetsBehindLatest",
                "estimatedTotalBytesBehindLatest",
            ):
                if m.get(key) is not None:
                    behind = m[key]
                    break
            if behind is not None and float(behind) > 0:
                return False
        return True

    def stop(self) -> None:
        """Graceful shutdown (A12); idempotent like kasper's double-Close
        (/root/reference/topic_processor_test.go:386-387)."""
        if self._query is not None:
            try:
                self._query.stop()
            finally:
                self._query = None

    @property
    def last_progress(self):
        return self._query.lastProgress if self._query is not None else None


def idempotent_foreach_batch(
    ledger_dir: str,
    write_fn: Callable[[DataFrame, int], None],
):
    """Wrap a foreachBatch writer into an EXACTLY-ONCE sink protocol.

    Spark's foreachBatch is at-least-once: a crash between the sink write
    and the checkpoint commit replays the whole micro-batch on restart —
    the same window the reference leaves open (produce-then-commit,
    /root/reference/topic_processor.go:150-162: a crash between Produce and
    CommitMessages re-emits the batch). This wrapper closes it with the
    standard two-part recipe:

    1. ``write_fn`` MUST be batchId-deterministic and overwrite-idempotent
       (e.g. write parquet to ``out/batch_id=<id>/`` with mode=overwrite,
       or MERGE on a key): a replay of batch N reproduces byte-identical
       output in the same place, so duplicates cannot exist.
    2. After ``write_fn`` returns, a ``<id>.done`` marker is committed to
       ``ledger_dir`` via write-to-temp + atomic rename. On replay the
       marker short-circuits the write entirely — the cheap fast path; the
       overwrite semantics of (1) are the correctness backstop for a crash
       BETWEEN write and marker (the marker alone would be a
       lost-update-window bug, which is why both halves exist).

    At scale the ledger lives on the DFS next to the sink (rename is atomic
    on HDFS/ABFS; on S3 use a transactional table format's app-id/version
    txn log instead — same protocol, different marker store).
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def fn(df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"{batch_id}.done")
        if os.path.exists(marker):
            return  # replayed batch, already fully committed
        write_fn(df, batch_id)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp, marker)  # atomic commit point

    return fn
