"""Round-15 OPTIMIZATION gates: the driver-side centroid IO fast paths
and the vectorized assignment ranking must stay bit-identical to the
Spark-job forms they replaced (the sweep certifies end-to-end values;
these pin the helper-level equivalences so a future edit that breaks one
fails here first, not in a 50-query sweep)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kasper_spark.registry import load_all_operators
from tests.conftest import SF_ORACLE  # noqa: F401

load_all_operators()


def test_parquet_nrows_matches_spark_count(spark):
    from kasper_spark.operators.similarity import _parquet_nrows

    path = os.path.join(SF_ORACLE, "embeddings.parquet")
    assert _parquet_nrows(path) == spark.read.parquet(path).count()


def test_centroid_write_read_roundtrip_and_state_equiv(spark, tmp_path):
    """_write_centroids_parquet (pyarrow) must land a table that (a)
    Spark reads with the exact rows/schema the old Spark write produced
    and (b) _centroid_state loads identically via the path fast path and
    the DataFrame path."""
    from kasper_spark.operators.similarity import (
        _centroid_state,
        _train_centroids_arrays,
        _train_centroids_np,
        _write_centroids_parquet,
    )

    cids, S, n = _train_centroids_arrays(spark, SF_ORACLE, k=8, train_n=200)
    path = str(tmp_path / "centroids")
    _write_centroids_parquet(path, cids, S, n)

    # (a) Spark-read rows == the long-form DataFrame the old write used
    df_rows = sorted(
        map(tuple, _train_centroids_np(spark, SF_ORACLE, k=8, train_n=200).collect())
    )
    disk_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert disk_rows == df_rows
    assert dict(spark.read.parquet(path).dtypes) == {
        "cluster_id": "bigint", "dim": "int", "s": "bigint", "n": "bigint",
    }

    # (b) path fast path == DataFrame path, array-for-array
    st_path = _centroid_state(path)
    st_df = _centroid_state(spark.read.parquet(path))
    for a, b in zip(st_path, st_df):
        assert np.array_equal(a, b)


@pytest.mark.parametrize("n_ranks", [1, 3])
def test_assign_scan_path_equals_df_cent(spark, tmp_path, n_ranks):
    """_assign_rows_scan_np over a centroid PATH must equal the same scan
    over the centroid DataFrame (the pyarrow fast path the builders and
    streaming append twins now use)."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators.similarity import (
        _assign_rows_scan_np,
        _train_centroids_arrays,
        _write_centroids_parquet,
    )

    cids, S, n = _train_centroids_arrays(spark, SF_ORACLE, k=8, train_n=200)
    path = str(tmp_path / "centroids")
    _write_centroids_parquet(path, cids, S, n)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    got = sorted(
        map(tuple, _assign_rows_scan_np(emb, path, n_ranks).collect())
    )
    want = sorted(
        map(
            tuple,
            _assign_rows_scan_np(
                emb, spark.read.parquet(path), n_ranks
            ).collect(),
        )
    )
    assert got == want


def test_np_dot_exact_scaled_matches_jvm_hof(spark):
    """The numpy scaled-decimal dot (_np_dot_exact_scaled) must equal the
    interpreted dot_exact HOF chain BIT-FOR-BIT over every (query,
    corpus) pair — the exhaustive agreement the bruteforce/rerank
    rewiring rests on (JDK Double.toString semantics replicated by
    Decimal(repr(p)); fast path guarded by construction)."""
    import numpy as np

    from kasper_spark.catalog import load_table
    from kasper_spark.operators.similarity import (
        _N_QUERY,
        _np_dot_exact_scaled,
        dot_exact,
        norm_exact,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    rows = (
        F.broadcast(q)
        .join(c)
        .select(
            "qid",
            "cid",
            dot_exact(F.col("qe"), F.col("ce")).alias("dot"),
            norm_exact(F.col("ce")).alias("cn"),
        )
        .collect()
    )
    tab = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    dot_scaled = _np_dot_exact_scaled()
    mism = 0
    for r in rows:
        qe, ce = tab[r["qid"]], tab[r["cid"]]
        d_np = float(dot_scaled((qe * ce)[None, :]).astype(np.float64)[0] / 1e12)
        n_np = float(np.sqrt(dot_scaled((ce * ce)[None, :]).astype(np.float64)[0] / 1e12))
        if d_np != r["dot"] or n_np != r["cn"]:
            mism += 1
    assert mism == 0, f"{mism}/{len(rows)} pairs diverged"


def test_ann_lsh_topk_matches_hof_form(spark):
    """The numpy-signature ann_lsh_topk must return exactly the rows of
    the interpreted-HOF form it replaced (same hyperplanes, same fold
    order, same buckets, same exact-decimal re-rank)."""
    from kasper_spark.operators.similarity import _ann_lsh_topk_hof
    from kasper_spark.registry import QUERIES

    got = sorted(map(tuple, QUERIES["ann_lsh_topk"](spark, SF_ORACLE).collect()))
    want = sorted(map(tuple, _ann_lsh_topk_hof(spark, SF_ORACLE).collect()))
    assert got == want


def test_pqres_encode_np_matches_hof(spark):
    """_pqres_encode_np must equal the interpreted _pqres_encode over the
    full residual corpus."""
    from kasper_spark.operators.similarity import (
        _pqres_codebook,
        _pqres_encode,
        _pqres_encode_np,
        _residuals,
    )

    res = _residuals(spark, SF_ORACLE)
    cb = _pqres_codebook(res)
    got = sorted(map(tuple, _pqres_encode_np(res, cb).collect()))
    want = sorted(map(tuple, _pqres_encode(res, cb).collect()))
    assert got == want
