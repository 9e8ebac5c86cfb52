"""index_catalog edge cases that the operator-level tests do not reach."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kasper_spark import index_catalog as cat


def _index_with_tombstones(tmp_path) -> str:
    idx = str(tmp_path / "idx")
    os.makedirs(os.path.join(idx, "lists"))
    os.makedirs(os.path.join(idx, "tombstones"))
    pq.write_table(
        pa.table({"vec_id": [1, 2], "list_id": [0, 0]}),
        os.path.join(idx, "tombstones", "part-0.parquet"),
    )
    return idx


def _partial(spark, idx):
    return cat.reclaim_tombstones_partial(
        spark, idx, {"lists": ["list_id"]}, "vec_id", "list_id"
    )


def test_partial_reclaim_on_empty_index_is_a_no_op(spark, tmp_path):
    idx = _index_with_tombstones(tmp_path)
    assert _partial(spark, idx) == (0, [])
    assert os.listdir(os.path.join(idx, "tombstones")) == ["part-0.parquet"]


def test_partial_reclaim_rejects_loose_files_at_table_root(spark, tmp_path):
    idx = _index_with_tombstones(tmp_path)
    pq.write_table(
        pa.table({"vec_id": [1, 3], "list_id": [0, 0]}),
        os.path.join(idx, "lists", "part-0.parquet"),
    )
    with pytest.raises(ValueError, match="loose parquet files"):
        _partial(spark, idx)
