"""State sizing: a stateful query started by ``Pipeline`` gets one
shuffle/state partition per source partition, the count never leaks into
the caller's session, and a checkpoint keeps the count it was created
with."""

from __future__ import annotations

import json
import os

import pytest

from kasper_spark.streaming.pipeline import Pipeline, PipelineConfig
from kasper_spark.streaming.state import running_word_count

KEY = "spark.sql.shuffle.partitions"


def _seed(root: str, pid: int, values: list[str], fname: str) -> None:
    pdir = os.path.join(root, f"p={pid}")
    os.makedirs(pdir, exist_ok=True)
    with open(os.path.join(pdir, fname), "w") as fh:
        for i, v in enumerate(values):
            fh.write(json.dumps({"key": f"k{i}", "value": v, "ts": 1.0}) + "\n")


def _topic(root: str, n_partitions: int, fname: str = "000.jsonl") -> str:
    for pid in range(n_partitions):
        _seed(root, pid, [f"a b p{pid}", "a"], fname)
    return root


def _pipeline(spark, tmp_path, name="sizing") -> Pipeline:
    return Pipeline(
        spark, PipelineConfig(name=name, checkpoint_root=str(tmp_path / "ck"))
    )


def _drain(pipe: Pipeline, out, sink) -> dict:
    q = pipe.start(out, output_mode="update", available_now=True, for_each_batch=sink)
    q.awaitTermination()
    return q.lastProgress


def _collector():
    counts: dict[str, int] = {}

    def sink(df, _bid):
        counts.update((r["word"], r["n"]) for r in df.collect())

    return counts, sink


def test_state_partitions_follow_source_and_do_not_leak(spark, tmp_path):
    before = spark.conf.get(KEY)
    pipe = _pipeline(spark, tmp_path)
    src = pipe.topic_dir_source(_topic(str(tmp_path / "t"), 3))
    counts, sink = _collector()
    progress = _drain(pipe, running_word_count(src), sink)
    assert progress["stateOperators"][0]["numShufflePartitions"] == 3
    assert spark.conf.get(KEY) == before
    assert counts == {"a": 6, "b": 3, "p0": 1, "p1": 1, "p2": 1}

    # a start() that raises (a streaming aggregation without a watermark
    # cannot run in append mode) restores the session too
    bad = _pipeline(spark, tmp_path, "sizing-bad")
    out = running_word_count(bad.topic_dir_source(str(tmp_path / "t")))
    with pytest.raises(Exception):
        bad.start(out, output_mode="append", available_now=True)
    assert spark.conf.get(KEY) == before


def test_several_sources_use_the_largest_count(spark, tmp_path):
    pipe = _pipeline(spark, tmp_path)
    narrow = pipe.topic_dir_source(_topic(str(tmp_path / "narrow"), 2))
    wide = pipe.topic_dir_source(_topic(str(tmp_path / "wide"), 3))
    assert pipe.state_partitions() == 3
    counts, sink = _collector()
    progress = _drain(pipe, running_word_count(narrow.unionByName(wide)), sink)
    assert progress["stateOperators"][0]["numShufflePartitions"] == 3
    assert counts["a"] == 10

    # one source of unknown width leaves the session's setting in charge
    os.makedirs(tmp_path / "files")
    pipe.file_source(str(tmp_path / "files"), "value string")
    assert pipe.state_partitions() is None


def test_resumed_checkpoint_keeps_its_pinned_count(spark, tmp_path):
    """A checkpoint created under the session's 8 partitions (the topic had
    no partitions when the source was built) keeps 8 after a restart over
    a 4-partition topic, and the counts continue with no reset and no
    double count."""
    assert spark.conf.get(KEY) == "8"
    root = str(tmp_path / "t")
    os.makedirs(root)
    pipe = _pipeline(spark, tmp_path, "resume")
    src = pipe.topic_dir_source(root)
    assert pipe.state_partitions() is None
    _seed(root, 0, ["a b", "a"], "000.jsonl")
    _seed(root, 1, ["b c"], "000.jsonl")
    counts, sink = _collector()
    progress = _drain(pipe, running_word_count(src), sink)
    assert progress["stateOperators"][0]["numShufflePartitions"] == 8
    assert counts == {"a": 2, "b": 2, "c": 1}

    _seed(root, 0, ["a"], "001.jsonl")
    _seed(root, 2, ["c d"], "000.jsonl")
    _seed(root, 3, ["d"], "000.jsonl")
    pipe2 = _pipeline(spark, tmp_path, "resume")
    src2 = pipe2.topic_dir_source(root)
    assert pipe2.state_partitions() == 4
    progress = _drain(pipe2, running_word_count(src2), sink)
    assert progress["stateOperators"][0]["numShufflePartitions"] == 8
    assert progress["numInputRows"] == 3
    assert counts == {"a": 3, "b": 2, "c": 2, "d": 2}
    assert spark.conf.get(KEY) == "8"



CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _changelog_files(ck: str) -> list[str]:
    state = os.path.join(ck, "state", "0")
    return [
        f
        for p in sorted(os.listdir(state))
        if os.path.isdir(os.path.join(state, p))
        for f in os.listdir(os.path.join(state, p))
        if f.endswith(".changelog")
    ]


def test_checkpoint_resumes_across_changelog_setting(spark, tmp_path):
    """The session turns on RocksDB changelog checkpointing. A checkpoint
    started with it off resumes with it on and then off again, and the
    running counts continue exactly: no reset and no double count."""
    from kasper_spark.session import _DEFAULTS

    assert _DEFAULTS[CHANGELOG] == "true"
    assert spark.conf.get(CHANGELOG) == "true"
    root = _topic(str(tmp_path / "t"), 2)
    ck = str(tmp_path / "ck" / "changelog")
    counts, sink = _collector()
    try:
        for step, setting in enumerate(["false", None, "false"]):
            if step:
                _seed(root, step % 2, ["a c", "c"], f"{step:03d}.jsonl")
            spark.conf.set(CHANGELOG, setting or _DEFAULTS[CHANGELOG])
            pipe = _pipeline(spark, tmp_path, "changelog")
            _drain(pipe, running_word_count(pipe.topic_dir_source(root)), sink)
            if step == 0:
                assert counts == {"a": 4, "b": 2, "p0": 1, "p1": 1}
                assert _changelog_files(ck) == []
            if step == 1:
                assert counts["a"] == 5 and counts["c"] == 2
                assert _changelog_files(ck) != []
        assert counts == {"a": 6, "b": 2, "c": 4, "p0": 1, "p1": 1}
    finally:
        spark.conf.set(CHANGELOG, _DEFAULTS[CHANGELOG])
