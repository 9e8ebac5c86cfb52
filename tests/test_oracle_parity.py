"""The t2 gate, run locally: every oracle-backed query must match DuckDB
bit-exactly at sf0.001 (fast loop; the driver re-checks at sf0.01). The
keys whose rewritten plans have no second in-tree form to compare with
(the fused ANN scans, per-block ER, the md5 signature pass, the BM25
chains) are also checked at sf0.01, and the BM25 chains on degenerate
corpora.

Rows-only queries (no oracle) are smoke-checked for determinism: two runs
produce identical sorted results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kasper_spark.catalog import TABLES
from kasper_spark.registry import QUERIES, ORACLES, load_all_operators
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import register_duck_views, run_both

load_all_operators()

ORACLE_NAMES = sorted(ORACLES)
ROWS_ONLY_NAMES = sorted(set(QUERIES) - set(ORACLES))
SF_ORACLE_NAMES = [
    "ann_pq_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_pq_residual",
    "entity_resolution_pipeline",
    "lsh_candidates_md5",
    "bm25_keyword_topk",
    "mrr_relevance_contract",
]


@pytest.fixture(scope="module")
def duck_views(duck):
    register_duck_views(duck, SF_SMOKE)
    return duck


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck_views, name):
    problems = run_both(
        spark, duck_views, QUERIES[name], ORACLES[name], SF_SMOKE, name
    )
    assert not problems, "\n".join(problems)


@pytest.fixture(scope="module")
def duck_oracle_views():
    import duckdb

    con = duckdb.connect()
    register_duck_views(con, SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", SF_ORACLE_NAMES)
def test_oracle_parity_sf001(spark, duck_oracle_views, name):
    problems = run_both(
        spark, duck_oracle_views, QUERIES[name], ORACLES[name], SF_ORACLE, name
    )
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_deterministic(spark, name):
    df1 = QUERIES[name](spark, SF_SMOKE)
    rows1 = sorted(map(str, df1.collect()))
    rows2 = sorted(map(str, QUERIES[name](spark, SF_SMOKE).collect()))
    assert rows1 == rows2, f"{name}: nondeterministic output"
    assert df1.columns, name


def test_dtype_class_gate_catches_int_float_drift():
    """The driver hashes pandas values exactly, so DuckDB-HUGEINT-vs-Spark-
    bigint drift (361.0 vs 361) must fail locally too — this is the gate
    that would have caught the two-rounds-red q12 before shipping."""
    import pandas as pd

    from tests.oracle_utils import compare_frames

    s = pd.DataFrame({"k": ["a"], "n": pd.Series([361], dtype="int64")})
    d = pd.DataFrame({"k": ["a"], "n": pd.Series([361.0], dtype="float64")})
    problems = compare_frames(s, d, "t")
    assert problems and "dtype class" in problems[0]

    # spark DateType arrives as object(datetime.date); duck DATE as
    # datetime64 — also a hash hazard, also flagged
    import datetime

    s2 = pd.DataFrame({"d": pd.Series([datetime.date(2024, 1, 1)], dtype=object)})
    d2 = pd.DataFrame({"d": pd.to_datetime(pd.Series(["2024-01-01"]))})
    problems2 = compare_frames(s2, d2, "t2")
    assert problems2 and "dtype class" in problems2[0]

    # matching float columns (NULL promotion on both sides) still pass
    f = pd.DataFrame({"n": pd.Series([1.0, float("nan")])})
    assert not compare_frames(f.copy(), f.copy(), "t3")


def _sf_with_documents(tmp_path, docs) -> str:
    """A scale-factor dir holding SF_SMOKE's tables, except that
    ``documents`` is replaced by ``docs``."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in TABLES:
        if t != "documents":
            src = os.path.join(SF_SMOKE, f"{t}.parquet")
            os.symlink(src, os.path.join(sf, f"{t}.parquet"))
    out = str(tmp_path / "documents_new")
    docs.coalesce(1).write.mode("overwrite").parquet(out)
    part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    os.symlink(os.path.join(out, part), os.path.join(sf, "documents.parquet"))
    return sf


def test_simhash_md5_parity_with_empty_documents(spark, duck, tmp_path):
    """ADVICE r05 latent bug: the simhash_md5_certified oracle drops
    token-less docs (UNNEST of an empty list yields no rows) while Spark
    used to emit (simhash=0, bucket16=0) for them — green only because the
    shipped corpora contain no empty docs. Prove parity on a corpus that
    DOES contain empty/whitespace-only documents."""
    import duckdb

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    extra = spark.createDataFrame(
        [(990001, "", ), (990002, "   ",)], ["doc_id", "text"]
    )
    aug = docs.unionByName(
        extra.withColumns(
            {c: F.lit(None).cast(docs.schema[c].dataType)
             for c in docs.columns if c not in ("doc_id", "text")}
        ).select(docs.columns),
        allowMissingColumns=False,
    )
    sf = _sf_with_documents(tmp_path, aug)

    con = duckdb.connect()
    register_duck_views(con, sf)
    problems = run_both(
        spark, con, QUERIES["simhash_md5_certified"],
        ORACLES["simhash_md5_certified"], sf, "simhash_md5_empty_docs",
    )
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("corpus", ["no_query_term", "empty"])
def test_bm25_chains_parity_on_degenerate_corpus(spark, tmp_path, corpus):
    """The BM25 keyword and graded-eval chains each have one plan; it
    must match DuckDB when no document contains any BM25 or MRR query
    term, and when the documents table has no rows."""
    import duckdb

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    if corpus == "empty":
        docs = docs.limit(0)
    else:
        docs = docs.withColumn(
            "text",
            F.concat_ws(
                " ",
                F.lit("lorem"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("ipsum dolor"),
            ),
        )
    sf = _sf_with_documents(tmp_path, docs)

    con = duckdb.connect()
    register_duck_views(con, sf)
    for name in ("bm25_keyword_topk", "rrf_fusion_topk", "mrr_relevance_contract"):
        problems = run_both(
            spark, con, QUERIES[name], ORACLES[name], sf, f"{name}_{corpus}"
        )
        assert not problems, "\n".join(problems)
    con.close()
