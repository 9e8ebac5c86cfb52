"""kasper_topic_dir connector: Kafka-contract semantics through Spark's
real connector machinery (Python DataSource API).

What each test certifies (reference citations in the module docstring of
kasper_spark/sources/topic_dir.py):
- batch + streaming reads see every message with per-partition monotone
  offsets (A1);
- a restarted stream with the same checkpoint resumes from committed
  offsets and re-reads nothing (A2 / offset management);
- parallelism is one task slice per topic partition (A7);
- the writer hash-routes by key (stable across processes) and round-trips
  losslessly (A5 produce side).
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kasper_spark.sources.topic_dir import (
    TopicDirStreamReader,
    hash_str,
    register_topic_dir_source,
)


def _seed(root: str, pid: int, messages: list[tuple[str, str, float]], fname: str):
    pdir = os.path.join(root, f"p={pid}")
    os.makedirs(pdir, exist_ok=True)
    with open(os.path.join(pdir, fname), "w") as fh:
        for key, value, ts in messages:
            fh.write(json.dumps({"key": key, "value": value, "ts": ts}) + "\n")


@pytest.fixture(autouse=True)
def _restore_zipimporter(monkeypatch):
    """Reader and writer entry points install the zip invalidation guard;
    tests that call them in this process put CPython's method back."""
    import zipimport

    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)


@pytest.fixture()
def topic(spark):
    register_topic_dir_source(spark)
    root = tempfile.mkdtemp(prefix="kasper-topic-")
    _seed(root, 0, [("a", "v0", 1.0), ("b", "v1", 2.0)], "000.jsonl")
    _seed(root, 0, [("a", "v2", 3.0)], "001.jsonl")
    _seed(root, 1, [("c", "v3", 4.0)], "000.jsonl")
    return root


def test_batch_read_all_partitions_with_offsets(spark, topic):
    rows = sorted(
        spark.read.format("kasper_topic_dir").option("path", topic).load().collect(),
        key=lambda r: (r["partition"], r["offset"]),
    )
    assert [(r["partition"], r["offset"], r["value"]) for r in rows] == [
        (0, 0, "v0"),
        (0, 1, "v1"),
        (0, 2, "v2"),
        (1, 0, "v3"),
    ]
    assert rows[0]["ts"].isoformat() == "1970-01-01T00:00:01"


def test_stream_resumes_from_checkpoint_offsets(spark, topic):
    """Drain, append, drain again with the SAME checkpoint: the second run
    must emit only the new messages (offset resume, no double-read)."""
    ck = tempfile.mkdtemp(prefix="kasper-topic-ck-")

    def drain() -> list:
        got: list = []
        q = (
            spark.readStream.format("kasper_topic_dir")
            .option("path", topic)
            .load()
            .writeStream.foreachBatch(lambda df, _bid: got.extend(df.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    first = drain()
    assert sorted(r["value"] for r in first) == ["v0", "v1", "v2", "v3"]

    _seed(topic, 1, [("d", "v4", 5.0), ("e", "v5", 6.0)], "001.jsonl")
    second = drain()  # fresh memory sink, same checkpoint
    assert sorted((r["partition"], r["offset"], r["value"]) for r in second) == [
        (1, 1, "v4"),
        (1, 2, "v5"),
    ]


def test_stream_slices_are_per_partition(topic):
    r = TopicDirStreamReader({"path": topic})
    assert r.initialOffset() == {"0": 0, "1": 0}
    assert r.latestOffset() == {"0": 3, "1": 1}
    parts = r.partitions({"0": 1, "1": 0}, {"0": 3, "1": 1})
    got = sorted((p.pid, p.start, p.end) for p in parts)
    assert got == [(0, 1, 3), (1, 0, 1)]  # one slice per topic partition


def test_writer_roundtrip_and_key_routing(spark):
    register_topic_dir_source(spark)
    root = tempfile.mkdtemp(prefix="kasper-topic-w-")
    df = spark.createDataFrame(
        [(f"k{i}", f"payload-{i}") for i in range(40)], "key string, value string"
    ).withColumn("ts", F.timestamp_seconds(F.lit(100)))
    df.write.format("kasper_topic_dir").option("path", root).option(
        "partitions", "4"
    ).mode("append").save()

    back = spark.read.format("kasper_topic_dir").option("path", root).load()
    assert sorted(r["value"] for r in back.collect()) == sorted(
        f"payload-{i}" for i in range(40)
    )
    # key routing matches the documented stable hash, partition by partition
    for r in back.collect():
        assert r["partition"] == hash_str(r["key"]) % 4

    # append-only contract: overwrite is refused
    with pytest.raises(Exception, match="append-only"):
        df.write.format("kasper_topic_dir").option("path", root).mode(
            "overwrite"
        ).save()


def test_reader_batch_size_cap(topic):
    """A3 parity: maxRecordsPerTrigger caps how far each trigger advances
    (kasper Config.BatchSize)."""
    r = TopicDirStreamReader({"path": topic, "maxrecordspertrigger": "2"})
    first = r.latestOffset()
    assert first == {"0": 2, "1": 1}  # p=0 capped at 2 of 3
    r.partitions({"0": 0, "1": 0}, first)
    second = r.latestOffset()
    assert second == {"0": 3, "1": 1}  # next trigger advances the rest


def test_pipeline_end_to_end_topic_roundtrip(spark, topic):
    """Reference hello-world/producer pattern through custom connectors:
    topic_dir source -> transform -> topic_dir sink (foreachBatch produce,
    checkpoint commits after the write — A6 ordering), then read the output
    topic back."""
    import tempfile as _tf

    from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig

    out_topic = _tf.mkdtemp(prefix="kasper-topic-out-")
    cfg = PipelineConfig(
        name=f"e2e-{os.path.basename(out_topic)}",
        checkpoint_root=_tf.mkdtemp(prefix="kasper-topic-e2e-ck-"),
        batch_size=1000,
    )
    p = Pipeline(spark, cfg)
    src = p.topic_dir_source(topic)
    transformed = src.select(
        "key", F.upper(F.col("value")).alias("value"), "ts"
    )

    def produce(df, _bid):
        df.write.format("kasper_topic_dir").option("path", out_topic).option(
            "partitions", "2"
        ).mode("append").save()

    p.run_available_now(transformed, for_each_batch=produce)
    back = spark.read.format("kasper_topic_dir").option("path", out_topic).load()
    assert sorted(r["value"] for r in back.collect()) == ["V0", "V1", "V2", "V3"]
    for r in back.collect():
        assert r["partition"] == hash_str(r["key"]) % 2


def test_stream_writer_exactly_once_epochs(spark, topic):
    """writeStream through the connector: epochs land atomically with
    batchId-deterministic names; a re-run on the same checkpoint appends
    nothing; new source data appends exactly the new records."""
    import tempfile as _tf

    out = _tf.mkdtemp(prefix="kasper-topic-sw-")
    ck = _tf.mkdtemp(prefix="kasper-topic-sw-ck-")

    def run():
        q = (
            spark.readStream.format("kasper_topic_dir")
            .option("path", topic)
            .load()
            .select("key", "value", "ts")
            .writeStream.format("kasper_topic_dir")
            .option("path", out)
            .option("partitions", "2")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def values():
        return sorted(
            r["value"]
            for r in spark.read.format("kasper_topic_dir")
            .option("path", out)
            .load()
            .collect()
        )

    run()
    assert values() == ["v0", "v1", "v2", "v3"]
    run()  # no new input, same checkpoint -> no duplicates
    assert values() == ["v0", "v1", "v2", "v3"]

    _seed(topic, 1, [("z", "v9", 9.0)], "002.jsonl")
    run()
    assert values() == ["v0", "v1", "v2", "v3", "v9"]

    # no stray staging files; epoch markers exist
    for pdir in os.listdir(out):
        if pdir.startswith("p="):
            assert all(
                f.endswith(".jsonl") for f in os.listdir(os.path.join(out, pdir))
            )
    assert os.listdir(os.path.join(out, "_epochs"))


def test_stream_writer_commit_replay_is_idempotent(tmp_path):
    """Unit drive of the commit protocol: a replayed batchId discards its
    restaged files instead of appending duplicates; abort cleans staging."""
    from kasper_spark.sources.topic_dir import TopicDirStreamWriter, _WroteFiles

    root = str(tmp_path / "t")
    w = TopicDirStreamWriter({"path": root, "partitions": "2"})

    def stage(content: str):
        pdir = os.path.join(root, "p=0")
        os.makedirs(pdir, exist_ok=True)
        tmp = os.path.join(pdir, f".stage-{content}.tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"key": "k", "value": content, "ts": 1.0}) + "\n")
        return _WroteFiles([(0, tmp)])

    w.commit([stage("a")], batchId=7)
    files = os.listdir(os.path.join(root, "p=0"))
    assert files == ["e000000000007-00000.jsonl"]

    # crash-after-sink-commit replay: same batchId staged again
    w.commit([stage("a-replayed")], batchId=7)
    assert os.listdir(os.path.join(root, "p=0")) == ["e000000000007-00000.jsonl"]

    m = stage("b")
    w.abort([m], batchId=8)
    assert os.listdir(os.path.join(root, "p=0")) == ["e000000000007-00000.jsonl"]


def test_stream_writer_exactly_once_across_crash(spark, topic):
    """Integration form of the replay proof: run a drain, then delete the
    checkpoint's LAST commit-log entry — exactly the state after a crash
    between the sink's epoch commit and the checkpoint commit (the
    at-least-once window the reference leaves open,
    /root/reference/topic_processor.go:150-162). The restart re-executes
    that batchId; the writer's epoch marker makes the replay a no-op and
    the output topic holds every message exactly once."""
    import tempfile as _tf

    out = _tf.mkdtemp(prefix="kasper-topic-xo-")
    ck = _tf.mkdtemp(prefix="kasper-topic-xo-ck-")

    def run():
        q = (
            spark.readStream.format("kasper_topic_dir")
            .option("path", topic)
            .load()
            .select("key", "value", "ts")
            .writeStream.format("kasper_topic_dir")
            .option("path", out)
            .option("partitions", "2")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    values = sorted(
        r["value"]
        for r in spark.read.format("kasper_topic_dir").option("path", out).load().collect()
    )
    assert values == ["v0", "v1", "v2", "v3"]

    # simulate the crash window: sink epoch committed, checkpoint commit lost
    commits = sorted(
        f for f in os.listdir(os.path.join(ck, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ck, "commits", commits[-1]))

    # restart replays the uncommitted batchId. Spark's checkpoint-in-use
    # registry deregisters the finished query asynchronously; retry until
    # the path frees up (bounded).
    import time as _time

    for attempt in range(5):
        try:
            run()
            break
        except Exception as exc:  # noqa: BLE001
            if "concurrently" not in str(exc) or attempt == 4:
                raise
            _time.sleep(2)
    values2 = sorted(
        r["value"]
        for r in spark.read.format("kasper_topic_dir").option("path", out).load().collect()
    )
    assert values2 == ["v0", "v1", "v2", "v3"]  # exactly once, no duplicates


def test_drain_batched_respects_cap_and_reaches_end(spark, topic):
    """A10 + A3 together: with maxRecordsPerTrigger=2, drain_batched loops
    single-batch runs until the log is exhausted — every message exactly
    once, no run exceeding the cap."""
    import tempfile as _tf

    from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig

    cfg = PipelineConfig(
        name="drainb",
        checkpoint_root=_tf.mkdtemp(prefix="kasper-drainb-ck-"),
        batch_size=2,
    )
    p = Pipeline(spark, cfg)
    got: list = []

    def make_out():
        return p.topic_dir_source(topic, rate_limited=True)

    runs = p.drain_batched(
        make_out, for_each_batch=lambda df, _b: got.extend(df.collect())
    )
    assert sorted(r["value"] for r in got) == ["v0", "v1", "v2", "v3"]
    # 4 messages, cap 2/partition: p=0 takes 2 runs, plus the empty probe
    assert 3 <= runs <= 4
    per_batch_max = max(
        len([r for r in got if r["partition"] == pid]) for pid in (0, 1)
    )
    assert per_batch_max <= 3  # no partition ever exceeded cap x runs shape


def test_batch_writer_appends_sort_after_existing(spark):
    """Append-order contract: a SECOND batch write's files must sort after
    the first batch's, so committed offsets never remap (uuid-only names
    could sort earlier and silently shift every offset)."""
    register_topic_dir_source(spark)
    root = tempfile.mkdtemp(prefix="kasper-topic-order-")

    def write(vals):
        df = spark.createDataFrame([("k", v) for v in vals], "key string, value string")
        df.coalesce(1).withColumn("ts", F.timestamp_seconds(F.lit(1))).write.format(
            "kasper_topic_dir"
        ).option("path", root).option("partitions", "1").mode("append").save()

    write(["first-0", "first-1"])
    first_offsets = {
        r["value"]: r["offset"]
        for r in spark.read.format("kasper_topic_dir").option("path", root).load().collect()
    }
    write(["second-0"])
    after = {
        r["value"]: r["offset"]
        for r in spark.read.format("kasper_topic_dir").option("path", root).load().collect()
    }
    assert after["first-0"] == first_offsets["first-0"]  # offsets stable
    assert after["first-1"] == first_offsets["first-1"]
    assert after["second-0"] == 2  # new data appends at the end


def test_null_ts_roundtrips_as_null(spark):
    """ts=null survives the produce/consume round trip (not epoch 0), and
    an externally seeded literal null ts reads without crashing."""
    register_topic_dir_source(spark)
    root = tempfile.mkdtemp(prefix="kasper-topic-nullts-")
    df = spark.createDataFrame(
        [("k", "v")], "key string, value string"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    df.write.format("kasper_topic_dir").option("path", root).option(
        "partitions", "1"
    ).mode("append").save()
    pdir = os.path.join(root, "p=0")
    with open(os.path.join(pdir, "zz-external.jsonl"), "w") as fh:
        fh.write(json.dumps({"key": "e", "value": "ext", "ts": None}) + "\n")

    rows = {
        r["value"]: r["ts"]
        for r in spark.read.format("kasper_topic_dir").option("path", root).load().collect()
    }
    assert rows["v"] is None
    assert rows["ext"] is None


def test_reader_skips_foreign_entries(spark, topic):
    """A stray 'p=0.bak' file next to the partition dirs must be ignored,
    not crash every offset computation."""
    open(os.path.join(topic, "p=0.bak"), "w").close()
    os.makedirs(os.path.join(topic, "p=junk"), exist_ok=True)
    r = TopicDirStreamReader({"path": topic})
    assert r.latestOffset() == {"0": 3, "1": 1}


def test_batch_writer_same_millisecond_commits_never_collide(tmp_path, monkeypatch):
    """ADVICE r04: two batch commits in one millisecond minted identical
    b{ms}-{seq} names and the second os.rename silently overwrote the
    first (data loss). The commit now bumps the clock prefix until no
    target exists — both batches must survive, and the second must still
    sort after the first (append contract)."""
    from kasper_spark.sources.topic_dir import TopicDirWriter, _WroteFiles

    root = str(tmp_path / "t")
    w = TopicDirWriter({"path": root, "partitions": "1"})
    monkeypatch.setattr("time.time", lambda: 1.0)  # frozen clock

    def stage(content: str):
        pdir = os.path.join(root, "p=0")
        os.makedirs(pdir, exist_ok=True)
        tmp = os.path.join(pdir, f".stage-{content}.tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"key": "k", "value": content, "ts": 1.0}) + "\n")
        return _WroteFiles([(0, tmp)])

    w.commit([stage("first")])
    w.commit([stage("second")])  # same frozen millisecond
    files = sorted(os.listdir(os.path.join(root, "p=0")))
    assert len(files) == 2, f"second commit overwrote the first: {files}"
    contents = []
    for f in files:
        with open(os.path.join(root, "p=0", f)) as fh:
            contents.append(json.loads(fh.read())["value"])
    assert contents == ["first", "second"]  # later append sorts after


def test_batch_writer_same_ms_different_layout_sorts_after(tmp_path, monkeypatch):
    """ADVICE r05: the same-ms guard must work at PREFIX level, not exact
    target-filename level. Commit 1 stages (p=0, p=1) so p=1 receives
    b{ms}-00001; commit 2 (same frozen ms) stages only p=1, whose target
    b{ms}-00000 does NOT exist — the old exact-name check passed and the
    new file sorted BEFORE commit 1's p=1 file, silently shifting every
    subsequent offset in that partition. The prefix-level pick must mint
    a strictly greater ms prefix so the later append still sorts after."""
    from kasper_spark.sources.topic_dir import TopicDirWriter, _WroteFiles

    root = str(tmp_path / "t")
    w = TopicDirWriter({"path": root, "partitions": "2"})
    monkeypatch.setattr("time.time", lambda: 1.0)  # frozen clock

    def stage(pid: int, content: str):
        pdir = os.path.join(root, f"p={pid}")
        os.makedirs(pdir, exist_ok=True)
        tmp = os.path.join(pdir, f".stage-{content}.tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"key": "k", "value": content, "ts": 1.0}) + "\n")
        return _WroteFiles([(pid, tmp)])

    w.commit([stage(0, "c1p0"), stage(1, "c1p1")])  # p=1 gets ...-00001
    w.commit([stage(1, "c2p1")])  # same ms, seq 0: exact-name check passes
    files = sorted(os.listdir(os.path.join(root, "p=1")))
    assert len(files) == 2, files
    contents = []
    for f in files:
        with open(os.path.join(root, "p=1", f)) as fh:
            contents.append(json.loads(fh.read())["value"])
    # the commit-2 file must sort AFTER commit 1's — offsets stay stable
    assert contents == ["c1p1", "c2p1"], (files, contents)


def test_stream_writer_markerless_partial_epoch_is_cleaned(tmp_path):
    """ADVICE r04: a driver crash mid-commit (some renames done, marker not
    yet written) leaves a partially visible epoch; if the replay's task
    layout differs, stale e{batchId}-* files from the crashed attempt
    would survive beside the replayed ones (duplicate rows). The commit
    now clears existing files for a marker-less epoch first."""
    from kasper_spark.sources.topic_dir import TopicDirStreamWriter, _WroteFiles

    root = str(tmp_path / "t")
    w = TopicDirStreamWriter({"path": root, "partitions": "2"})

    # simulate the crashed attempt: one file of epoch 7 already renamed
    # into place (seq 00001 — a layout the replay won't reproduce), no marker
    pdir = os.path.join(root, "p=0")
    os.makedirs(pdir, exist_ok=True)
    with open(os.path.join(pdir, "e000000000007-00001.jsonl"), "w") as fh:
        fh.write(json.dumps({"key": "k", "value": "crashed-attempt", "ts": 1.0}) + "\n")

    def stage(content: str):
        tmp = os.path.join(pdir, f".stage-{content}.tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"key": "k", "value": content, "ts": 1.0}) + "\n")
        return _WroteFiles([(0, tmp)])

    w.commit([stage("replayed")], batchId=7)
    files = sorted(os.listdir(pdir))
    assert files == ["e000000000007-00000.jsonl"], files
    with open(os.path.join(pdir, files[0])) as fh:
        assert json.loads(fh.read())["value"] == "replayed"


def test_malformed_line_skipped_not_wedged(spark, tmp_path):
    """ADVICE r04: one malformed or ts-less line raised on every retry and
    permanently wedged the stream. It is now skipped (offset slot kept, so
    later offsets stay aligned with the raw line count)."""
    register_topic_dir_source(spark)
    root = str(tmp_path / "t")
    _seed(root, 0, [("a", "v0", 1.0)], "000.jsonl")
    pdir = os.path.join(root, "p=0")
    with open(os.path.join(pdir, "000.jsonl"), "a") as fh:
        fh.write("this is not json\n")
        fh.write(json.dumps({"key": "c", "value": "no-ts-field"}) + "\n")
        # ADVICE r05: an out-of-range numeric ts makes fromtimestamp raise
        # OverflowError/OSError (not ValueError) — must also be skipped,
        # not wedge the stream
        fh.write(json.dumps({"key": "e", "value": "absurd-ts", "ts": 1e30}) + "\n")
        fh.write(json.dumps({"key": "d", "value": "v3", "ts": 4.0}) + "\n")

    rows = sorted(
        spark.read.format("kasper_topic_dir").option("path", root).load().collect(),
        key=lambda r: r["offset"],
    )
    # offsets 1 (malformed), 2 (ts-less) and 3 (overflow ts) are skipped;
    # offset 4 keeps its slot — proof the raw-line offset math survived
    assert [(r["offset"], r["value"]) for r in rows] == [(0, "v0"), (4, "v3")]


def test_drain_batched_survives_trailing_no_data_batch(spark, monkeypatch):
    """ADVICE r04: drain_batched read only lastProgress; a stateful run
    appending a trailing no-data batch reads numInputRows=0 there and the
    drain exited early with backlog remaining. It now sums numInputRows
    across recentProgress for the run."""
    from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig

    cfg = PipelineConfig(name="drain-test", brokers=[], input_topics=[])
    pipe = Pipeline(spark, cfg)

    class FakeQuery:
        def __init__(self, progresses):
            self.recentProgress = progresses
            self.lastProgress = progresses[-1] if progresses else None

        def awaitTermination(self):
            pass

    # run 1: consumed 5 rows then a trailing watermark-only batch (0 rows);
    # run 2: truly empty — the drain must do BOTH runs, not stop after #1
    runs = [
        FakeQuery([{"numInputRows": 5}, {"numInputRows": 0}]),
        FakeQuery([{"numInputRows": 0}]),
    ]
    calls = []
    monkeypatch.setattr(
        Pipeline, "start", lambda self, out, **kw: calls.append(1) or runs[len(calls) - 1]
    )
    n = pipe.drain_batched(lambda: None)
    assert n == 2 and len(calls) == 2


def test_null_key_roundrobin_routing_spreads_partitions(spark, tmp_path):
    """nullKeyRouting=roundrobin spreads a null-heavy batch across
    partitions (Kafka's null-key behavior) instead of the deterministic
    default of pinning every null-key message to p=0."""
    register_topic_dir_source(spark)
    fixed_root = str(tmp_path / "fixed")
    rr_root = str(tmp_path / "rr")
    df = spark.createDataFrame(
        [(None, f"v{i}", None) for i in range(40)],
        "key string, value string, ts timestamp",
    ).coalesce(1)

    df.write.format("kasper_topic_dir").option("path", fixed_root).option(
        "partitions", "4"
    ).mode("append").save()
    df.write.format("kasper_topic_dir").option("path", rr_root).option(
        "partitions", "4"
    ).option("nullKeyRouting", "roundrobin").mode("append").save()

    def counts(root):
        out = {}
        for pid in range(4):
            pdir = os.path.join(root, f"p={pid}")
            n = 0
            if os.path.isdir(pdir):
                for f in os.listdir(pdir):
                    if f.endswith(".jsonl"):
                        with open(os.path.join(pdir, f)) as fh:
                            n += sum(1 for _ in fh)
            out[pid] = n
        return out

    assert counts(fixed_root) == {0: 40, 1: 0, 2: 0, 3: 0}
    assert counts(rr_root) == {0: 10, 1: 10, 2: 10, 3: 10}


def test_null_key_routing_rejects_unknown_mode(spark, tmp_path):
    register_topic_dir_source(spark)
    df = spark.createDataFrame([(None, "v", None)], "key string, value string, ts timestamp")
    with pytest.raises(Exception, match="nullKeyRouting"):
        df.write.format("kasper_topic_dir").option("path", str(tmp_path / "x")).option(
            "nullKeyRouting", "random"
        ).mode("append").save()


def test_batch_writer_marker_fast_path_and_scan_fallback(tmp_path, monkeypatch):
    """The commit-prefix pick is O(1) via the root _max_batch_prefix
    marker on the steady state, and falls back to the exhaustive
    directory scan when the marker is missing (pre-marker dirs, manual
    deletion) — the same-ms safety contract must hold on BOTH paths."""
    from kasper_spark.sources.topic_dir import TopicDirWriter, _WroteFiles

    root = str(tmp_path / "t")
    w = TopicDirWriter({"path": root, "partitions": "1"})
    monkeypatch.setattr("time.time", lambda: 1.0)  # frozen clock

    def stage(content: str):
        pdir = os.path.join(root, "p=0")
        os.makedirs(pdir, exist_ok=True)
        tmp = os.path.join(pdir, f".stage-{content}.tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"key": "k", "value": content, "ts": 1.0}) + "\n")
        return _WroteFiles([(0, tmp)])

    w.commit([stage("one")])
    marker = os.path.join(root, "_max_batch_prefix")
    assert os.path.exists(marker)
    first = int(open(marker).read())

    w.commit([stage("two")])  # marker fast path, same frozen ms
    assert int(open(marker).read()) == first + 1

    os.remove(marker)  # scan fallback must re-derive the bound from files
    w.commit([stage("three")])
    assert int(open(marker).read()) == first + 2
    files = sorted(os.listdir(os.path.join(root, "p=0")))
    contents = []
    for f in files:
        with open(os.path.join(root, "p=0", f)) as fh:
            contents.append(json.loads(fh.read())["value"])
    assert contents == ["one", "two", "three"]  # append order preserved

    # the marker never remaps reader offsets: it is invisible to the reader
    from kasper_spark.sources.topic_dir import _partition_dirs

    assert sorted(_partition_dirs(root)) == [0]


def test_latest_offset_counts_only_new_or_changed_files(topic, monkeypatch):
    """latestOffset line-counts a file once; later triggers reuse the count
    until a new file lands or a file is rewritten under the same name (the
    stream writer's marker-less replay does that), and a malformed line
    still takes its offset slot."""
    from kasper_spark.sources import topic_dir as td

    reader = TopicDirStreamReader({"path": topic})
    assert reader.latestOffset() == {"0": 3, "1": 1}

    counted = []
    real = td._line_count
    monkeypatch.setattr(td, "_line_count", lambda p: counted.append(p) or real(p))
    assert reader.latestOffset() == {"0": 3, "1": 1}
    assert counted == []  # idle trigger: no file is read

    pdir = os.path.join(topic, "p=1")
    with open(os.path.join(pdir, "001.jsonl"), "w") as fh:
        fh.write("not json\n")
        fh.write(json.dumps({"key": "d", "value": "v5", "ts": 5.0}) + "\n")
    assert reader.latestOffset() == {"0": 3, "1": 3}
    assert [os.path.basename(p) for p in counted] == ["001.jsonl"]
    rows = list(reader.read(reader.partitions({"0": 3, "1": 1}, {"0": 3, "1": 3})[0]))
    assert [(r[3], r[1]) for r in rows] == [(2, "v5")]  # slot 1 stays used

    # same name, same size, other content and mtime: counted again
    f = os.path.join(pdir, "000.jsonl")
    st = os.stat(f)
    with open(f, "w") as fh:
        fh.write("\n" * st.st_size)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    counted.clear()
    assert reader.latestOffset() == {"0": 3, "1": st.st_size + 2}
    assert [os.path.basename(p) for p in counted] == ["000.jsonl"]


def _long_partition(root: str, n_files: int) -> None:
    for i in range(n_files):
        _seed(root, 0, [(f"k{i}", f"v{i}", float(i))], f"{i:04d}.jsonl")


def test_read_opens_only_planned_files(tmp_path, monkeypatch):
    """partitions() hands each slice the counts latestOffset already has, so
    reading the newest 10 lines of a 200-file partition counts no line and
    opens only the 10 files that hold them."""
    from kasper_spark.sources import topic_dir as td

    root = str(tmp_path / "t")
    _long_partition(root, 200)
    reader = TopicDirStreamReader({"path": root})
    assert reader.latestOffset() == {"0": 200}

    counted, opened = [], []
    real_count, real_lines = td._line_count, td._read_lines
    monkeypatch.setattr(td, "_line_count", lambda p: counted.append(p) or real_count(p))
    monkeypatch.setattr(
        td, "_read_lines", lambda p, *a: opened.append(p) or real_lines(p, *a)
    )
    (part,) = reader.partitions({"0": 190}, {"0": 200})
    rows = list(reader.read(part))
    assert counted == []
    assert [r[3] for r in rows] == list(range(190, 200))
    assert [r[1] for r in rows] == [f"v{i}" for i in range(190, 200)]
    assert [os.path.basename(p) for p in opened] == [
        f"{i:04d}.jsonl" for i in range(190, 200)
    ]

    # a slice planned by a reader that never ran latestOffset (a batch
    # replayed from the offset log) counts lines and reads the same rows
    (replayed,) = TopicDirStreamReader({"path": root}).partitions(
        {"0": 190}, {"0": 200}
    )
    assert replayed.files is None
    assert list(reader.read(replayed)) == rows
    assert len(counted) == 200

    # the batch reader plans its slices the same way
    batch = td.TopicDirBatchReader({"path": root})
    (whole,) = batch.partitions()
    counted.clear()
    assert len(list(batch.read(whole))) == 200
    assert counted == []


def test_rewrite_after_planning_reads_new_rows(tmp_path):
    """A file rewritten under the same name between planning and read (the
    stream writer's marker-less replay does that) no longer matches the
    slice's plan, so the task re-counts and returns the rewritten rows."""
    root = str(tmp_path / "t")
    _long_partition(root, 3)
    reader = TopicDirStreamReader({"path": root})
    assert reader.latestOffset() == {"0": 3}
    (part,) = reader.partitions({"0": 1}, {"0": 3})
    assert len(part.files) == 2

    _seed(root, 0, [("k1", "r1", 9.0), ("k1", "r2", 9.0)], "0001.jsonl")
    assert [(r[3], r[1]) for r in reader.read(part)] == [(1, "r1"), (2, "r2")]


def test_planned_read_keeps_malformed_line_slot(tmp_path):
    root = str(tmp_path / "t")
    _long_partition(root, 2)
    with open(os.path.join(root, "p=0", "0000.jsonl"), "a") as fh:
        fh.write("not json\n")
    _seed(root, 0, [("k", "last", 7.0)], "0002.jsonl")
    reader = TopicDirStreamReader({"path": root})
    assert reader.latestOffset() == {"0": 4}
    (part,) = reader.partitions({"0": 0}, {"0": 4})
    assert [f[3:] for f in part.files] == [(0, 2), (2, 1), (3, 1)]
    assert [(r[3], r[1]) for r in reader.read(part)] == [
        (0, "v0"),
        (2, "v1"),
        (3, "last"),
    ]
