"""bench.py keeps the working tree clean: its full-record sidecar lives
outside the repo and carries the ``record_file`` field that the stdout line
advertises. Spark is stubbed out; only the record plumbing runs."""

from __future__ import annotations

import json
import os
import subprocess
from unittest import mock

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_status() -> str:
    try:
        return subprocess.run(
            ["git", "-C", REPO, "status", "--porcelain", "--untracked-files=all"],
            capture_output=True, text=True, check=True, timeout=60,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        pytest.skip("needs a git checkout")


def test_stubbed_bench_run_leaves_tree_clean(tmp_path, monkeypatch, capsys):
    assert not os.path.abspath(bench.RECORD_FILE).startswith(REPO + os.sep)
    sidecar = str(tmp_path / "record.json")
    monkeypatch.setattr(bench, "RECORD_FILE", sidecar)
    monkeypatch.setattr(bench, "HEADLINE", [])
    monkeypatch.setattr(bench, "_contention_probe", lambda: {"clean": True})
    monkeypatch.setattr(bench, "_streaming_throughput", lambda spark: {})
    monkeypatch.setattr("kasper_spark.session.get_spark", lambda *a, **k: mock.MagicMock())
    monkeypatch.setattr("kasper_spark.registry.load_all_operators", lambda: None)
    monkeypatch.setattr("pyspark.sql.functions.broadcast", lambda df: df)

    before = _git_status()
    bench.main()
    record = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    os.remove(record["stderr_quarantine"]["file"])

    assert _git_status() == before
    assert record["record_file"] == sidecar
    with open(sidecar) as fh:
        assert json.load(fh) == record
