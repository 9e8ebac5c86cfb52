"""Streaming workloads: an open-loop generator feeds a kasper_topic_dir topic
that a ``Pipeline`` consumes.

``relay``            upper(value) back out to a kasper_topic_dir topic (the
                     producer -> hello-world -> producer loop)
``wordcount_state``  running word count in update mode into a MapStore

Phases: warm-up batch (part of set-up), a conditioning burst, the live open
loop for ``--seconds``, then a burst whose drain time gives the catch-up
throughput.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time

import numpy as np

from common import PARTITIONS, InvalidRun, multiset_hash, percentile, read_topic

HERE = os.path.dirname(os.path.abspath(__file__))

BATCH_SIZE = 10_000  # per-partition cap per trigger, the README example size
WARMUP_MSGS = 20_000
FLUSH_MS = 100
SETTINGS = {
    # rate (msg/s), burst size, generator mode
    "relay": (5_000, 100_000, "relay"),
    # 36k: about 9k per partition, under the per-partition cap, so each
    # burst drains in one batch
    "wordcount_state": (2_000, 36_000, "words"),
}
PROBE_READ_PER_PARTITION = 5_000
PROBE_WRITE_ROWS = 10_000
PROBE_REPEATS = 3
COMMIT_TIMEOUT_S = 90.0
# Checkpoint polling only decides when the harness notices a batch; the
# timings themselves come from file mtimes.
POLL_S = 0.02


class Generator:
    """Client of the generator process (gen.py stream)."""

    def __init__(self, workload: str, seed: int, seconds: float):
        rate, burst, mode = SETTINGS[workload]
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "stream",
             "--seed", str(seed), "--mode", mode, "--rate", str(rate),
             "--seconds", str(seconds), "--flush-ms", str(FLUSH_MS),
             "--warmup", str(WARMUP_MSGS), "--burst", str(burst)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self._reply()  # ready

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def poll_reply(self, timeout: float) -> dict | None:
        """The pending reply if it arrives within ``timeout`` seconds."""
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout)
        return self._reply() if ready else None

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with code {self.proc.wait()}")
        return json.loads(line)

    def call(self, cmd: str) -> dict:
        self.send(cmd)
        return self._reply()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class Checkpoint:
    """Reads a streaming query's checkpoint: per batch, the end offset of
    every partition, when the batch was planned (mtime of ``offsets/<id>``,
    written before the batch runs) and when it was committed (mtime of
    ``commits/<id>``). Both files are immutable once visible, so each is
    read once."""

    def __init__(self, location: str):
        self.location = location
        self._planned: dict[int, tuple[list[int], float]] = {}
        self._committed: dict[int, float] = {}

    def _scan(self, sub: str):
        d = os.path.join(self.location, sub)
        names = os.listdir(d) if os.path.isdir(d) else []
        return [(int(n), os.path.join(d, n)) for n in names if n.isdigit()]

    def planned_batches(self) -> dict[int, tuple[list[int], float]]:
        for b, path in self._scan("offsets"):
            if b not in self._planned:
                with open(path, encoding="utf-8") as fh:
                    src = json.loads(fh.read().splitlines()[2])
                self._planned[b] = ([int(src.get(str(p), 0)) for p in range(PARTITIONS)],
                                    os.stat(path).st_mtime)
        return self._planned

    def batches(self) -> list[tuple[int, list[int], float, float]]:
        """(batch id, end offsets, planned at, committed at) of every
        committed batch, in id order."""
        for b, path in self._scan("commits"):
            if b not in self._committed:
                self._committed[b] = os.stat(path).st_mtime
        planned = self.planned_batches()
        return [(b, *planned[b], t) for b, t in sorted(self._committed.items())]

    def committed(self) -> list[int]:
        bs = self.batches()
        return bs[-1][1] if bs else [0] * PARTITIONS

    def planned(self, end: list[int], rss) -> None:
        """Wait until a batch reaching ``end`` has been planned."""
        deadline = time.monotonic() + COMMIT_TIMEOUT_S
        while time.monotonic() < deadline:
            if any(all(e >= t for e, t in zip(ends, end))
                   for ends, _ in self.planned_batches().values()):
                return
            rss.sample()
            time.sleep(POLL_S)
        raise InvalidRun(f"no batch reached offsets {end} within {COMMIT_TIMEOUT_S}s")

    def wait_covering(self, end: list[int], rss, query) -> float:
        """Commit time of the first batch whose offsets reach ``end``."""
        deadline = time.monotonic() + COMMIT_TIMEOUT_S
        while time.monotonic() < deadline:
            for _b, ends, _planned, committed in self.batches():
                if all(e >= t for e, t in zip(ends, end)):
                    return committed
            if query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {query.exception()}")
            rss.sample()
            time.sleep(POLL_S)
        raise InvalidRun(f"no commit reached offsets {end} within {COMMIT_TIMEOUT_S}s")


def _latencies_ms(topic: str, live: dict, batches) -> list[float]:
    """Stamp-to-commit latency of every live-phase message."""
    msgs = read_topic(topic)
    ids = [b[0] for b in batches]
    ends = np.array([b[1] for b in batches])
    mtimes = np.array([b[3] for b in batches])
    out = []
    for p in range(PARTITIONS):
        lo, hi = live["start"][p], live["end"][p]
        stamps = np.array([m["ts"] for m in msgs[p][lo:hi]])
        batch_idx = np.searchsorted(ends[:, p], np.arange(lo, hi), side="right")
        if len(ids) and batch_idx.max(initial=0) >= len(ids):
            raise InvalidRun("a live message is not covered by any committed batch")
        out.extend(((mtimes[batch_idx] - stamps) * 1000.0).tolist())
    return out


def _slope(samples: list[tuple[float, float]]) -> float:
    if len(samples) < 2:
        return 0.0
    t = np.array([s[0] for s in samples])
    y = np.array([s[1] for s in samples])
    return float(np.polyfit(t - t[0], y, 1)[0])


def _p50(values) -> float:
    return percentile(values, 50) if values else 0.0


def _start_pipeline(spark, workload, topic, out_topic, ck_root, name, store):
    """Build and start the workload's pipeline; returns (pipeline, query)."""
    from pyspark.sql import functions as F

    from kasper_spark.stores.bridge import foreach_batch_writer
    from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig
    from kasper_spark.streaming.state import running_word_count

    pipe = Pipeline(spark, PipelineConfig(
        name=name, checkpoint_root=ck_root, batch_size=BATCH_SIZE,
        batch_wait_seconds=0))
    src = pipe.topic_dir_source(topic, rate_limited=True)
    if workload == "relay":
        out = src.select("key", F.upper("value").alias("value"), "ts")
        q = pipe.start(out, sink_format="kasper_topic_dir",
                       sink_options={"path": out_topic, "partitions": str(PARTITIONS)})
    else:
        counts = running_word_count(src).select(
            F.col("word").alias("key"), F.col("n").alias("value"))
        q = pipe.start(counts, output_mode="update",
                       for_each_batch=foreach_batch_writer(store, small_output=True))
    return pipe, q


def _make_store(tracer):
    from kasper_spark.stores.memory import MapStore

    class TimedMapStore(MapStore):
        """MapStore that times each bulk write."""

        def __init__(self):
            super().__init__()
            self.put_ms: list[float] = []
            self.keys_written = 0

        def put_all(self, kvs):
            t0 = time.perf_counter()
            super().put_all(kvs)
            t1 = time.perf_counter()
            self.put_ms.append((t1 - t0) * 1000.0)
            self.keys_written += len(kvs)
            tracer.add("stores.put_all", t0, t1)

    return TimedMapStore() if tracer.enabled else MapStore()


def _check(workload, gen_done, topic, out_topic, store) -> tuple[int, int]:
    """(attempted, failed) from the outputs; see README for the op units."""
    expected = gen_done[topic]
    if workload == "relay":
        from kasper_spark.sources.topic_dir import TopicDirBatchReader

        reader = TopicDirBatchReader({"path": out_topic})
        got = [(r[0], r[1]) for part in reader.partitions() for r in reader.read(part)]
        if len(got) == expected["msgs"] and multiset_hash(got) == expected["hash"]:
            return expected["msgs"], 0
        src = read_topic(topic)
        want = {}
        for msgs in src.values():
            for m in msgs:
                pair = (m["key"], m["value"].upper())
                want[pair] = want.get(pair, 0) + 1
        for pair in got:
            want[pair] = want.get(pair, 0) - 1
        return expected["msgs"], min(expected["msgs"], sum(abs(v) for v in want.values()))
    with open(topic + ".counts.json", encoding="utf-8") as fh:
        counts = json.load(fh)
    stored = {k: int(v) for k, v in store.as_dict().items()}
    words = set(counts) | set(stored)
    failed = sum(1 for w in words if counts.get(w) != stored.get(w))
    return len(counts), failed


def run(workload, seed, seconds, tracer, root, rss) -> dict:
    """One run; returns {"attempted", "failed", "e2e", "layers"}."""
    gen = Generator(workload, seed, seconds)
    try:
        return _run(workload, gen, tracer, root, rss)
    finally:
        gen.close()


def _run(workload, gen, tracer, root, rss):
    topic = os.path.join(root, "topics", "in")
    out_topic = os.path.join(root, "topics", "out")
    ck_root = os.path.join(root, "checkpoints")
    warm = gen.call(f"warm {topic}")
    t_setup = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            from kasper_spark.session import get_spark

            spark = get_spark(f"perfbench-{workload}")
            get_spark_s = time.perf_counter() - t_setup
        listener = None
        if tracer.enabled:
            listener = _lag_listener()
            spark.streams.addListener(listener)
        store = _make_store(tracer)
        with tracer.span("pipeline.start"):
            pipe, q = _start_pipeline(spark, workload, topic, out_topic, ck_root,
                                      workload, store)
        ck = Checkpoint(pipe.config.checkpoint_location)
        with tracer.span("engine.warmup_batch"):
            # a conditioning burst, written while the warm-up batch runs,
            # warms the JVM further before anything is measured
            conditioning = _write_burst(gen, ck, topic, rss, warm["end"])
            ck.wait_covering(warm["end"], rss, q)
    setup_s = time.perf_counter() - t_setup
    ck.wait_covering(conditioning["end"], rss, q)

    with tracer.span("live"):
        gen.send(f"live {topic}")
        live = None
        while live is None:
            rss.sample()
            live = gen.poll_reply(0.05)
        backlog = sum(live["end"]) - sum(ck.committed())
    if live["late_ms_max"] > live["flush_ms"]:
        raise InvalidRun(f"generator fell {live['late_ms_max']:.0f} ms behind schedule")
    if backlog > BATCH_SIZE * PARTITIONS:
        raise InvalidRun(f"end-of-live backlog {backlog} exceeds one batch cap")

    with tracer.span("burst"):
        burst = _write_burst(gen, ck, topic, rss, live["end"])
        ck.wait_covering(burst["end"], rss, q)
    throughput = _catchup_rate(ck.batches(), burst)

    progress = [json.loads(p.json) for p in q.recentProgress]
    pipe.stop()
    rss.sample(force=True)
    batches = ck.batches()

    layers = {}
    if tracer.enabled:
        spark.streams.removeListener(listener)
        layers = _layers(batches, live, progress, listener, store, tracer, topic, root)
        layers["session.get_spark_s"] = (get_spark_s, "s")
        layers["engine.end_of_live_backlog_msgs"] = (backlog, "count")
        with tracer.span("baseline.local1"):
            layers["baseline.local1_throughput_per_s"] = (
                _local1_baseline(workload, gen, root, rss), "1/s")
    done = gen.call("done")
    lat = _latencies_ms(topic, live, batches)
    attempted, failed = _check(workload, done, topic, out_topic, store)
    layers["latency.samples"] = (len(lat), "count")
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p99_ms": (percentile(lat, 99), "ms"),
        "throughput_per_s": (throughput, "1/s"),
    }
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers}


def _write_burst(gen, ck, topic, rss, after: list[int]) -> dict:
    """Write a burst as soon as the batch reaching the previous data
    (``after``) has been planned, so it lands while that batch runs and the
    next trigger sees all of it."""
    ck.planned(after, rss)
    return gen.call(f"burst {topic}")


def _catchup_rate(batches, burst) -> float:
    """Msg/s: the burst's size over the time from the planning of the first
    batch holding its messages to the commit of the batch reaching its last
    offsets."""
    first = min(planned for _b, ends, planned, _c in batches
                if any(e > s for e, s in zip(ends, burst["start"])))
    last = min(committed for _b, ends, _p, committed in batches
               if all(e >= t for e, t in zip(ends, burst["end"])))
    return burst["msgs"] / (last - first)


def _lag_listener():
    from kasper_spark.streaming.metrics import PipelineMetricsListener

    class LagRecorder(PipelineMetricsListener):
        """Keeps every lag reading with its time, for a slope."""

        def __init__(self):
            super().__init__()
            self.samples: list[tuple[float, int]] = []

        def onQueryProgress(self, event):  # noqa: N802 (Spark API)
            super().onQueryProgress(event)
            p = event.progress
            self.samples.append(
                (time.time(), self.messages_behind_high_water_mark(p.name or p.id)))

    return LagRecorder()


def _layers(batches, live, progress, listener, store, tracer, topic, root) -> dict:
    live_ids = {
        b for b, ends, _, _ in batches
        if all(e <= le for e, le in zip(ends, live["end"]))
        and any(e > ls for e, ls in zip(ends, live["start"]))
    }
    live_p = [p for p in progress if p["batchId"] in live_ids and p["numInputRows"]]

    def dur(key):
        return _p50([p["durationMs"].get(key, 0) for p in live_p])

    states = [p["stateOperators"][0] for p in live_p if p.get("stateOperators")]
    lag = [s for s in listener.samples if live["t_start"] <= s[0] <= live["t_end"] + 1.0]
    read_rate, write_rate = _probe_topic_dir(topic, root, tracer)
    put_ms = getattr(store, "put_ms", [])
    return {
        "engine.trigger_ms": (dur("triggerExecution"), "ms"),
        "engine.add_batch_ms": (dur("addBatch"), "ms"),
        "engine.latest_offset_ms": (dur("latestOffset"), "ms"),
        "engine.wal_commit_ms": (dur("walCommit"), "ms"),
        "engine.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "engine.query_planning_ms": (dur("queryPlanning"), "ms"),
        "engine.batches": (len(live_p), "count"),
        "engine.rows_per_batch": (_p50([p["numInputRows"] for p in live_p]), "count"),
        "state.rows_total": (states[-1]["numRowsTotal"] if states else 0, "count"),
        "state.memory_bytes": (states[-1]["memoryUsedBytes"] if states else 0, "B"),
        "state.commit_ms": (_p50([s["commitTimeMs"] for s in states]), "ms"),
        "stores.put_all_ms": (_p50(put_ms), "ms"),
        "stores.keys_written": (getattr(store, "keys_written", 0), "count"),
        "metrics.lag_end_msgs": (lag[-1][1] if lag else 0, "count"),
        "metrics.lag_slope_msgs_per_s": (_slope(lag), "1/s"),
        "topic_dir.read_msgs_per_s": (read_rate, "1/s"),
        "topic_dir.write_msgs_per_s": (write_rate, "1/s"),
        "gen.late_ms": (live["late_ms_max"], "ms"),
        "gen.msgs": (live["msgs"], "count"),
    }


def _probe_topic_dir(topic, root, tracer) -> tuple[float, float]:
    """Direct connector calls: read a fixed offset range of the final input
    log; write + commit a fixed batch of rows into a fresh topic."""
    from kasper_spark.sources.topic_dir import TopicDirStreamReader, TopicDirStreamWriter

    reader = TopicDirStreamReader({"path": topic})
    start = {str(p): 0 for p in range(PARTITIONS)}
    end = {str(p): PROBE_READ_PER_PARTITION for p in range(PARTITIONS)}
    read_rates = []
    for _ in range(PROBE_REPEATS):
        with tracer.span("topic_dir.read"):
            t0 = time.perf_counter()
            recs = [r for part in reader.partitions(start, end) for r in reader.read(part)]
            read_rates.append(len(recs) / (time.perf_counter() - t0))
    rows = [{"key": r[0], "value": r[1], "ts": r[4]} for r in recs[:PROBE_WRITE_ROWS]]
    writer = TopicDirStreamWriter({"path": os.path.join(root, "topics", "probe"),
                                   "partitions": str(PARTITIONS)})
    write_rates = []
    for batch_id in range(PROBE_REPEATS):
        with tracer.span("topic_dir.write"):
            t0 = time.perf_counter()
            writer.commit([writer.write(iter(rows))], batch_id)
            write_rates.append(len(rows) / (time.perf_counter() - t0))
    return _p50(read_rates), _p50(write_rates)


def _local1_baseline(workload, gen, root, rss) -> float:
    """Catch-up throughput of the same pipeline and burst on local[1]."""
    from kasper_spark.session import get_spark, stop_spark
    from kasper_spark.stores.memory import MapStore

    stop_spark()
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = get_spark("perfbench-local1")
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus or "*"
    topic = os.path.join(root, "topics", "local1_in")
    warm = gen.call(f"warm {topic}")
    pipe, q = _start_pipeline(spark, workload, topic, os.path.join(root, "topics", "local1_out"),
                              os.path.join(root, "checkpoints"), "local1", MapStore())
    ck = Checkpoint(pipe.config.checkpoint_location)
    burst = _write_burst(gen, ck, topic, rss, warm["end"])
    ck.wait_covering(burst["end"], rss, q)
    pipe.stop()
    return _catchup_rate(ck.batches(), burst)
