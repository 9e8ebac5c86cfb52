"""Round-16 OPTIMIZATION gates.

Helper-level pins for the driver-side kernels this round introduced, so
a future edit that breaks one fails here first rather than in a
50-query sweep. The end-to-end values of the rewritten ANN, ER and BM25
chains are certified against DuckDB in tests/test_oracle_parity.py.
"""

from __future__ import annotations

from kasper_spark.registry import load_all_operators
from tests.conftest import SF_ORACLE  # noqa: F401

load_all_operators()


# ---- Fused numpy ADC pass (r15 verdict ticket #3) ---------------------
#
# The five PQ serving chains collapsed their encode/LUT/groupBy join
# pyramids into _np_adc_scan. These pins assert row-for-row equality of
# every driver-twin kernel the scan consumes.


def test_pq_encode_packed_matches_codes_array(spark):
    """packed=True must emit exactly the rows _codes_array(long form)
    produces — same vec_ids, same sub_j-ordered code arrays."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators.similarity import (
        _codes_array,
        _pq_codebook_df,
        _pq_encode_np,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cb = _pq_codebook_df(emb)
    got = {
        r["vec_id"]: tuple(r["codes"])
        for r in _pq_encode_np(emb, cb, packed=True).collect()
    }
    want = {
        r["vec_id"]: tuple(r["codes"])
        for r in _codes_array(_pq_encode_np(emb, cb)).collect()
    }
    assert got == want


def test_pqres_encode_packed_matches_codes_array(spark):
    from kasper_spark.operators.similarity import (
        _codes_array,
        _pqres_codebook,
        _pqres_encode_np,
        _residuals,
    )

    res = _residuals(spark, SF_ORACLE)
    cb = _pqres_codebook(res)
    got = {
        r["vec_id"]: tuple(r["codes"])
        for r in _pqres_encode_np(res, cb, packed=True).collect()
    }
    want = {
        r["vec_id"]: tuple(r["codes"])
        for r in _codes_array(_pqres_encode_np(res, cb)).collect()
    }
    assert got == want


def test_seedk_probe_driver_matches_scan(spark):
    """The driver probe twin must produce exactly the (query, cid) pairs
    of the distributed seed-K rank scan at nprobe."""
    from kasper_spark.operators.similarity import (
        _IVF_NPROBE,
        _collect_query_state,
        _seedk_probe_driver,
        _seedk_rank_scan,
        _seedk_state,
    )

    qids, Q, qn = _collect_query_state(spark, SF_ORACLE)
    seed_state = _seedk_state(spark, SF_ORACLE)
    pm = _seedk_probe_driver(qids, Q, qn, seed_state, _IVF_NPROBE)
    got = {(int(qids[p]), int(cid)) for cid, ps in pm.items() for p in ps}
    want = {
        (r["vec_id"], r["cid"])
        for r in _seedk_rank_scan(
            spark, SF_ORACLE, _IVF_NPROBE, queries_only=True
        ).collect()
    }
    assert got == want


def test_assign_probe_driver_matches_scan(spark, tmp_path):
    """The trained-centroid driver probe twin must equal the collected
    _assign_rows_scan_np pairs over the query rows (same kernel, no
    Spark job)."""
    from pyspark.sql import functions as F

    from kasper_spark.catalog import load_table
    from kasper_spark.operators.similarity import (
        _N_QUERY,
        _assign_probe_driver,
        _assign_rows_scan_np,
        _collect_query_state,
        _train_centroids_arrays,
        _write_centroids_parquet,
    )

    cids, S, n = _train_centroids_arrays(spark, SF_ORACLE, k=8, train_n=200)
    cent = str(tmp_path / "centroids")
    _write_centroids_parquet(cent, cids, S, n)

    qids, Q, _qn = _collect_query_state(spark, SF_ORACLE)
    pm = _assign_probe_driver(qids, Q, cent, 3)
    got = {(int(qids[p]), int(cid)) for cid, ps in pm.items() for p in ps}
    emb = load_table(spark, SF_ORACLE, "embeddings")
    want = {
        (r["vec_id"], r["cluster_id"])
        for r in _assign_rows_scan_np(
            emb.filter(F.col("vec_id") < _N_QUERY), cent, 3
        ).collect()
    }
    assert got == want


# ---- Structural contracts for the two no_oracle queries (verdict #8) --


def test_structural_contract_fixtures_pinned(spark):
    """The SF-independent fixture fingerprints must match their pinned
    values — any drift in the hyperplane derivation / signature fold /
    simhash tokenizer+fold trips this before the driver window does."""
    from kasper_spark.operators.dedup import (
        _SIMHASH_FIXTURE_MD5,
        _simhash_fixture_fingerprint,
    )
    from kasper_spark.operators.similarity import (
        _LSH_FIXTURE_MD5,
        _lsh_fixture_fingerprint,
    )

    assert _lsh_fixture_fingerprint(spark) == _LSH_FIXTURE_MD5
    assert _simhash_fixture_fingerprint(spark) == _SIMHASH_FIXTURE_MD5


def test_structural_contracts_all_zero(spark):
    from kasper_spark.registry import QUERIES

    for name in ("ann_lsh_topk_contract", "simhash_fingerprints_contract"):
        row = QUERIES[name](spark, SF_ORACLE).collect()[0]
        assert all(v == 0 for v in row.asDict().values()), (name, row)


# ---- ER per-block union-find closure (verdict #4) ---------------------


def test_cc_within_blocks_matches_connected_components(spark):
    """On a synthetic blocked edge set (edges never span blocks), the
    one-pass union-find must label components exactly like the loop:
    cluster_id = min doc_id, one row per endpoint."""
    from kasper_spark.operators.dedup import _cc_within_blocks, connected_components

    edges = [
        # block A: chain 1-2-3-4 plus dup + self-noise patterns
        ("A", 1, 2), ("A", 2, 3), ("A", 3, 4), ("A", 1, 2),
        # block A: separate pair
        ("A", 10, 11),
        # block B: star around 20, ids overlapping block A's range is
        # impossible by construction in real blocking; keep disjoint
        ("B", 20, 21), ("B", 20, 22), ("B", 21, 23),
        # block C: single edge
        ("C", 30, 31),
    ]
    df = spark.createDataFrame(edges, "bk string, doc_a long, doc_b long")
    got = sorted(
        map(tuple, _cc_within_blocks(df, ["bk"]).collect())
    )
    want = sorted(
        map(tuple, connected_components(df.select("doc_a", "doc_b")).collect())
    )
    assert got == want


# ---- Pre-resolved-literal PRF round-2 scorer (r15 verdict floor #6) ----
#
# The round-2 scorer resolves its stats/df up front and inlines them as
# literals; its DataFrame-terms join form is also its fallback when no
# term occurs. This pin asserts row-for-row equality (including the
# DECIMAL(30,12) scores bit-for-bit, via tuple compare).


def test_prf_round2_literal_matches_joinform(spark):
    """The literal-terms round-2 scorer must equal the DataFrame-terms
    join form over the same collected expansion set."""
    from kasper_spark.operators.retrieval import (
        _BM25_TERMS,
        _bm25_score_over_literal_terms,
        _bm25_score_over_terms,
        _prf_expansion,
    )

    expansion, docs = _prf_expansion(spark, SF_ORACLE)
    terms2 = _BM25_TERMS + tuple(
        r["term"] for r in expansion.select("term").collect()
    )
    got = sorted(
        map(tuple, _bm25_score_over_literal_terms(docs, terms2).collect())
    )
    terms_df = spark.createDataFrame([(t,) for t in terms2], ["term"])
    want = sorted(
        map(tuple, _bm25_score_over_terms(docs, terms_df).collect())
    )
    assert got and got == want


def test_ivf_trained_fused_matches_composition(spark):
    """The one-pass fused trained-IVF serve must return exactly the rows
    of the composed form (probe candidates + exact re-rank) it replaced,
    at both the fixed-K and the scaled-K parameterizations."""
    import os

    from kasper_spark.operators.similarity import (
        _collect_query_state,
        _exact_rerank,
        _ivf_trained_candidates_np,
        _ivf_trained_serve_fused,
        _parquet_nrows,
        _scaledk_params,
    )

    def composed(**kw):
        qstate = _collect_query_state(spark, SF_ORACLE)
        cand = _ivf_trained_candidates_np(spark, SF_ORACLE, qstate=qstate, **kw)
        return _exact_rerank(spark, SF_ORACLE, cand, qstate=qstate)

    got = sorted(map(tuple, _ivf_trained_serve_fused(spark, SF_ORACLE).collect()))
    want = sorted(map(tuple, composed().collect()))
    assert got and got == want

    n = _parquet_nrows(os.path.join(SF_ORACLE, "embeddings.parquet"))
    k, train_n, nprobe = _scaledk_params(n)
    got = sorted(
        map(
            tuple,
            _ivf_trained_serve_fused(
                spark, SF_ORACLE, k=k, train_n=train_n, nprobe=nprobe
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, composed(k=k, train_n=train_n, nprobe=nprobe).collect())
    )
    assert got and got == want


def test_lsh_n_buckets_scale_adaptive():
    from kasper_spark.operators.dedup import (
        _LSH_IDX_BUCKETS_CAP,
        _LSH_TARGET_LEAF_ROWS,
        _lsh_n_buckets,
    )

    assert _lsh_n_buckets(0) == 1
    assert _lsh_n_buckets(5_000) == 1
    assert _lsh_n_buckets(_LSH_TARGET_LEAF_ROWS) == 1
    assert _lsh_n_buckets(_LSH_TARGET_LEAF_ROWS + 1) == 2
    assert _lsh_n_buckets(10 * _LSH_TARGET_LEAF_ROWS) == 10
    assert _lsh_n_buckets(10**12) == _LSH_IDX_BUCKETS_CAP
