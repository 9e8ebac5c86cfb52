"""Property gates for round-13 operators: the mutual-kNN matrix scorer's
bit-identity and cap path, and the persisted IVF-PQ index lifecycle. The
oracle sweep certifies cross-engine value equality on generated data; these
pin the invariants the generated data cannot reach (the sub-bucket cap
never triggers at certified scales; bit-identity needs a per-pair
recomputation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kasper_spark.registry import QUERIES, load_all_operators
from tests.conftest import SF_ORACLE, SF_SMOKE  # noqa: F401

load_all_operators()


def test_mutual_knn_cosine_bit_identical_to_fold(spark):
    """The applyInPandas Gram-matrix accumulation must reproduce
    dot_double's sequential fold BIT-FOR-BIT: recompute every emitted
    pair's cosine with the certified per-pair expression and assert
    null-safe equality (== on doubles is exact; no tolerance)."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators.similarity import dot_double

    out = QUERIES["mutual_knn_pairs"](spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    nrm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = nrm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = nrm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    recomputed = (
        out.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            (
                dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            ).alias("fold_cosine"),
        )
    )
    rows = recomputed.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["cosine"] == r["fold_cosine"], (
            f"pair {r['vec_a']}x{r['vec_b']}: matrix {r['cosine']!r} != "
            f"fold {r['fold_cosine']!r}"
        )


def test_mutual_knn_exact_when_under_cap(spark):
    """At certified scales no list exceeds _MUTUAL_LIST_CAP, so the
    sub-bucketed path must be a literal no-op: nsub == 1 for every list
    (asserted from the persisted index itself)."""
    from kasper_spark.operators import similarity as S

    idx = S._ensure_ivf_index(spark, SF_ORACLE)
    sizes = (
        spark.read.parquet(S._os.path.join(idx, "assignments"))
        .groupBy("cluster_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= S._MUTUAL_LIST_CAP, (
        "certified-scale lists must fit the cap or the oracle hash would "
        "no longer pin the exact all-members ranking"
    )


def test_mutual_knn_capped_path(spark, monkeypatch):
    """Force the sub-bucket cap on real data and pin its contract:
    deterministic output, rank bound respected, va < vb symmetry, every
    surviving pair's cosine bit-equal to the exact run's cosine for that
    pair (sub-bucketing hides candidates — it never changes a pair's
    score), and the capped candidate volume actually shrinks."""
    from kasper_spark.operators import similarity as S

    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in QUERIES["mutual_knn_pairs"](spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(S, "_MUTUAL_LIST_CAP", 4)
    got1 = QUERIES["mutual_knn_pairs"](spark, SF_SMOKE).collect()
    got2 = QUERIES["mutual_knn_pairs"](spark, SF_SMOKE).collect()
    key = lambda r: (r["vec_a"], r["vec_b"])  # noqa: E731
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2)), "non-deterministic"
    assert len(got1) > 0, "cap=4 on sf0.001 should still surface mutual pairs"
    for r in got1:
        assert r["vec_a"] < r["vec_b"]
        assert 1 <= r["rank_ab"] <= S._MUTUAL_K
        assert 1 <= r["rank_ba"] <= S._MUTUAL_K
        if key(r) in exact:
            assert r["cosine"] == exact[key(r)], (
                "sub-bucketing must never change a visible pair's cosine"
            )


def test_ivf_pq_search_only_prunes_code_lists(spark):
    """The ADC serving plan must carry a STATIC PartitionFilter on the
    pq_codes scan — only the probed lists' code files are opened (the
    same discipline test_ivf_search_only_prunes_inverted_lists pins for
    the coarse index)."""
    df = QUERIES["ann_ivf_pq_search_only"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "pq_codes" in l]
    assert scan_lines, "no pq_codes scan found in plan"
    assert any("PartitionFilters: [cluster_id" in l for l in scan_lines), (
        scan_lines
    )


def test_ivf_pq_persisted_codes_match_inflight_encoding(spark):
    """Per-vector, per-subspace equality between the codes READ BACK from
    the persisted index and a fresh in-flight encoding — stronger than
    the build query's histogram oracle (which could mask compensating
    swaps between vectors)."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators import similarity as S

    idx = S._ensure_ivf_pq_index(spark, SF_SMOKE)
    persisted = (
        spark.read.parquet(S._os.path.join(idx, "pq_codes"))
        .select("vec_id", F.posexplode("codes").alias("sub_j", "code_r"))
    )
    emb = load_table(spark, SF_SMOKE, "embeddings")
    fresh, _ = S._pq_parts(emb)
    a = sorted(map(tuple, persisted.collect()))
    b = sorted(map(tuple, fresh.select("vec_id", "sub_j", "code_r").collect()))
    assert a == b


def test_ivf_pq_index_reuse_and_marker_order(spark):
    """_ensure_ivf_pq_index is a no-op when both markers exist; a rebuild
    removes the PQ marker BEFORE rewriting so readers never see a marker
    over a half-written index."""
    import os

    from kasper_spark.operators import similarity as S

    d1 = S._ensure_ivf_pq_index(spark, SF_SMOKE)
    marker = os.path.join(d1, S._PQ_MARKER)
    assert os.path.exists(marker)
    assert os.path.exists(os.path.join(d1, "_KASPER_INDEX_READY"))
    mt = os.path.getmtime(marker)
    assert S._ensure_ivf_pq_index(spark, SF_SMOKE) == d1
    assert os.path.getmtime(marker) == mt, "READY PQ index was rebuilt"
    # rebuild rewrites the marker (removed first, recreated last)
    S._build_ivf_pq_index(spark, SF_SMOKE)
    assert os.path.getmtime(marker) != mt


def test_hist_scale_forms_equal_spec_forms(spark):
    """The three histogram prefix-rank scale forms must reproduce their
    spec forms' output EXACTLY (same rows, same values) — rank equality
    is the whole contract (r12 verdict ticket #4)."""
    for spec, hist in [
        ("revenue_concentration_gini", "revenue_concentration_gini_hist"),
        ("rfm_customer_segments", "rfm_customer_segments_hist"),
        ("curriculum_phases", "curriculum_phases_hist"),
    ]:
        a = sorted(map(tuple, QUERIES[spec](spark, SF_ORACLE).collect()))
        b = sorted(map(tuple, QUERIES[hist](spark, SF_ORACLE).collect()))
        assert a == b, f"{hist} diverged from {spec}"


def test_hist_prefix_rank_matches_window_rank_under_ties(spark):
    """Randomized (seeded) tables with HEAVY ties: the histogram prefix
    rank must equal ROW_NUMBER() OVER (ORDER BY value, key) row-for-row
    — tie groups are where the two formulations could diverge."""
    import random

    from pyspark.sql.window import Window

    from kasper_spark.functions.ranks import hist_prefix_rank

    rng = random.Random(131)
    for trial in range(3):
        n = rng.randrange(30, 120)
        rows = [
            (i, float(rng.randrange(5)))  # 5 distinct values -> big ties
            for i in range(n)
        ]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "key long, value double")
        got = sorted(
            map(
                tuple,
                hist_prefix_rank(df, "value", "key", "i", n_name="n")
                .select("key", "i", "n")
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                df.select(
                    "key",
                    F.row_number()
                    .over(Window.orderBy("value", "key"))
                    .cast("long")
                    .alias("i"),
                    F.count(F.lit(1))
                    .over(
                        Window.partitionBy().rowsBetween(
                            Window.unboundedPreceding, Window.unboundedFollowing
                        )
                    )
                    .cast("long")
                    .alias("n"),
                ).collect(),
            )
        )
        assert got == want, f"trial {trial}: rank divergence"


def test_ntile_from_rank_matches_window_ntile(spark):
    """Closed-form NTILE vs the window NTILE on adversarial sizes
    (n < k, n == k, n % k != 0, big n) — every rank, every k."""
    from pyspark.sql.window import Window

    from kasper_spark.functions.ranks import ntile_from_rank

    for n in (1, 2, 4, 5, 6, 7, 23, 100, 101):
        for k in (3, 5):
            df = spark.range(1, n + 1).select(
                F.col("id").alias("i"), F.lit(n).cast("long").alias("n")
            )
            got = df.select(
                "i", ntile_from_rank(F.col("i"), F.col("n"), k).alias("b")
            )
            want = df.select(
                "i", F.ntile(k).over(Window.orderBy("i")).cast("long").alias("b")
            )
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            ), f"ntile mismatch at n={n} k={k}"


def test_ivf_append_twin_cut_invariance(spark):
    """The on-disk index the streaming append maintains must be invariant
    to micro-batch boundaries (2 vs 5 source files): same per-list
    profile AND same full assignment rows — the 14th incremental view,
    the first maintained on disk."""
    from kasper_spark.operators import similarity as S
    from kasper_spark.operators.streaming_twins import _ivf_append_run

    idx2, prof2 = _ivf_append_run(spark, SF_SMOKE, 2)
    idx5, prof5 = _ivf_append_run(spark, SF_SMOKE, 5)
    assert sorted(map(tuple, prof2.collect())) == sorted(
        map(tuple, prof5.collect())
    )
    a2 = sorted(
        map(
            tuple,
            spark.read.parquet(S._os.path.join(idx2, "assignments"))
            .select("vec_id", F.col("cluster_id").cast("long"))
            .collect(),
        )
    )
    a5 = sorted(
        map(
            tuple,
            spark.read.parquet(S._os.path.join(idx5, "assignments"))
            .select("vec_id", F.col("cluster_id").cast("long"))
            .collect(),
        )
    )
    assert a2 == a5 and a2, "assignments differ across cut boundaries"


def test_ivf_append_twin_serves_mid_stream_and_converges(spark):
    """_search_persisted_index over the maintained index: mid-stream
    (base half only) every neighbor comes from the ingested prefix and
    the marker's n drives the probe params; after full drain the search
    result equals ann_ivf_search_only's over the offline index exactly."""
    import os
    import shutil

    from kasper_spark.operators import similarity as S
    from kasper_spark.operators.streaming_twins import _ivf_append_run

    # mid-stream state: seed the work index with the base half only
    real = S._ensure_ivf_index(spark, SF_SMOKE)
    meta = S._ivf_index_meta(real)
    split = meta["n"] // 2
    import tempfile

    work = tempfile.mkdtemp(prefix="kasper-midstream-")
    try:
        idx = os.path.join(work, "index")
        os.makedirs(idx)
        shutil.copytree(
            os.path.join(real, "centroids"), os.path.join(idx, "centroids")
        )
        (
            spark.read.parquet(os.path.join(real, "assignments"))
            .filter(F.col("vec_id") < split)
            .select(
                "vec_id", F.col("cluster_id").cast("bigint").alias("cluster_id")
            )
            .repartition(F.col("cluster_id"))
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(idx, "assignments"))
        )
        S._ivf_marker_write(idx, n=split, k=meta["k"], train_n=meta["train_n"])
        mid = S._search_persisted_index(spark, SF_SMOKE, idx).collect()
        assert mid, "mid-stream search returned nothing"
        assert all(r["neighbor_id"] < split for r in mid), (
            "mid-stream search surfaced a vector not yet ingested"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # converged state: full drain == the offline index's serving result
    idx_full, _ = _ivf_append_run(spark, SF_SMOKE, 3)
    got = sorted(
        map(tuple, S._search_persisted_index(spark, SF_SMOKE, idx_full).collect())
    )
    want = sorted(
        map(tuple, QUERIES["ann_ivf_search_only"](spark, SF_SMOKE).collect())
    )
    assert got == want


def test_ivf_pq_append_twin_cut_invariance_and_serving(spark):
    """The maintained IVF-PQ index: cut-invariant code rows (2 vs 5 file
    boundaries) and ADC serving over the fully drained work index equals
    ann_ivf_pq_search_only over the offline index exactly."""
    from kasper_spark.operators import similarity as S
    from kasper_spark.operators.streaming_twins import _ivf_pq_append_run

    idx2, prof2 = _ivf_pq_append_run(spark, SF_SMOKE, 2)
    idx5, prof5 = _ivf_pq_append_run(spark, SF_SMOKE, 5)
    assert sorted(map(tuple, prof2.collect())) == sorted(
        map(tuple, prof5.collect())
    )
    codes2 = sorted(
        map(
            tuple,
            spark.read.parquet(S._os.path.join(idx2, "pq_codes"))
            .select("vec_id", F.posexplode("codes").alias("sub_j", "code_r"))
            .collect(),
        )
    )
    codes5 = sorted(
        map(
            tuple,
            spark.read.parquet(S._os.path.join(idx5, "pq_codes"))
            .select("vec_id", F.posexplode("codes").alias("sub_j", "code_r"))
            .collect(),
        )
    )
    assert codes2 == codes5 and codes2, "codes differ across cut boundaries"
    got = sorted(
        map(
            tuple, S._search_pq_persisted_index(spark, SF_SMOKE, idx2).collect()
        )
    )
    want = sorted(
        map(tuple, QUERIES["ann_ivf_pq_search_only"](spark, SF_SMOKE).collect())
    )
    assert got == want


def test_pqres_persisted_codes_match_inflight_and_prune(spark):
    """Residual-PQ persisted codes equal a fresh in-flight residual
    encoding per (vector, subspace); the serving plan statically prunes
    the pqres_codes partitions."""
    from kasper_spark.operators import similarity as S

    idx = S._ensure_pqres_index(spark, SF_SMOKE)
    persisted = (
        spark.read.parquet(S._os.path.join(idx, "pqres_codes"))
        .select("vec_id", F.posexplode("codes").alias("sub_j", "code_r"))
    )
    res = S._residuals(spark, SF_SMOKE)
    fresh = S._pqres_encode(res, S._pqres_codebook(res))
    a = sorted(map(tuple, persisted.collect()))
    b = sorted(map(tuple, fresh.select("vec_id", "sub_j", "code_r").collect()))
    assert a == b and a
    plan = (
        QUERIES["ann_ivf_pq_residual_search_only"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [l for l in plan.splitlines() if "pqres_codes" in l]
    assert scan_lines, "no pqres_codes scan found in plan"
    assert any("PartitionFilters: [cid" in l for l in scan_lines), scan_lines


def test_lsh_search_only_prunes_bucket_partitions(spark):
    """The LSH serving plan must carry a STATIC PartitionFilter on the
    persisted bands scan — only the probed (band, bucket) directories
    open — and the index must not rebuild on re-serve."""
    import os

    from kasper_spark.operators import dedup as D

    df = QUERIES["lsh_neardup_search_only"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "bands" in l and "Scan" in l]
    assert scan_lines, "no bands scan found in plan"
    assert any("PartitionFilters: [" in l and "band" in l for l in scan_lines), (
        scan_lines
    )
    marker = os.path.join(
        D._lsh_index_dir(SF_ORACLE), D._LSH_IDX_MARKER
    )
    mt = os.path.getmtime(marker)
    QUERIES["lsh_neardup_search_only"](spark, SF_ORACLE).collect()
    assert os.path.getmtime(marker) == mt, "READY LSH index was rebuilt"


def test_lsh_append_twin_cut_invariance_and_serving(spark):
    """The maintained LSH index: cut-invariant band rows (2 vs 5 file
    boundaries) and near-dup serving over the drained work index equals
    lsh_neardup_search_only over the offline index exactly."""
    import os

    from kasper_spark.operators import dedup as D
    from kasper_spark.operators.streaming_twins import _lsh_append_run

    idx2, prof2 = _lsh_append_run(spark, SF_SMOKE, 2)
    idx5, prof5 = _lsh_append_run(spark, SF_SMOKE, 5)
    assert sorted(map(tuple, prof2.collect())) == sorted(
        map(tuple, prof5.collect())
    )
    rows2 = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(idx2, "bands"))
            .select("doc_id", "bsig", F.col("band").cast("long"))
            .collect(),
        )
    )
    rows5 = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(idx5, "bands"))
            .select("doc_id", "bsig", F.col("band").cast("long"))
            .collect(),
        )
    )
    assert rows2 == rows5 and rows2, "band rows differ across cut boundaries"
    got = sorted(map(tuple, D._search_lsh_index(spark, idx2).collect()))
    want = sorted(
        map(tuple, QUERIES["lsh_neardup_search_only"](spark, SF_SMOKE).collect())
    )
    assert got == want


def test_session_apws_cut_invariance_and_tws_parity(spark):
    """The state-v1 comparator must be cut-invariant (2 vs 5 files) and
    emit exactly the TWS twin's session set on the same feed — the
    three-runtime session family's pairwise agreement."""
    from kasper_spark.operators.streaming_twins import _session_tws_run
    from kasper_spark.streaming.state import sessionize_apws

    a = sorted(
        map(
            tuple,
            _session_tws_run(spark, SF_SMOKE, 2, sessionizer=sessionize_apws)
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            _session_tws_run(spark, SF_SMOKE, 5, sessionizer=sessionize_apws)
            .collect(),
        )
    )
    assert a == b and a, "apws sessionizer not cut-invariant"
    tws = sorted(map(tuple, _session_tws_run(spark, SF_SMOKE, 2).collect()))
    assert a == tws, "v1 and v2 runtimes diverged on the same feed"


def test_assign_rows_scan_np_bit_identical(spark):
    """The numpy assignment twin must reproduce _assign_rows_scan
    EXHAUSTIVELY — every (vector, rank) row, every scale we test,
    nprobe > 1 included — before the maintenance path may use it."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators import similarity as S

    for sf in (SF_SMOKE, SF_ORACLE):
        idx = S._ensure_ivf_index(spark, sf)
        cent = spark.read.parquet(S._os.path.join(idx, "centroids"))
        emb = load_table(spark, sf, "embeddings")
        for n_ranks in (1, 3):
            a = sorted(
                map(tuple, S._assign_rows_scan(emb, cent, n_ranks).collect())
            )
            b = sorted(
                map(tuple, S._assign_rows_scan_np(emb, cent, n_ranks).collect())
            )
            assert a == b and a, f"divergence at {sf} n_ranks={n_ranks}"


def test_pq_encode_np_bit_identical(spark):
    """The numpy PQ encoder must reproduce _pq_encode's nearest-codeword
    choice for EVERY (vector, subspace) at both certified scales."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators import similarity as S

    for sf in (SF_SMOKE, SF_ORACLE):
        emb = load_table(spark, sf, "embeddings")
        cb = S._pq_codebook_df(emb)
        a = sorted(map(tuple, S._pq_encode(emb, cb).collect()))
        b = sorted(map(tuple, S._pq_encode_np(emb, cb).collect()))
        assert a == b and a, f"PQ encode divergence at {sf}"


def test_train_centroids_np_bit_identical(spark):
    """The driver-side numpy Lloyd trainer must reproduce _kmeans_core's
    post-final-update centroid table EXACTLY (every (cluster, dim, s, n)
    row) at both certified scales with the scaled-K parameters."""
    from kasper_spark.catalog import load_table
    from kasper_spark.operators import similarity as S

    for sf in (SF_SMOKE, SF_ORACLE):
        n = load_table(spark, sf, "embeddings").count()
        k, train_n, _ = S._scaledk_params(n)
        a = sorted(
            map(
                tuple,
                S._kmeans_core(spark, sf, k=k, train_n=train_n)["cent"].collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                S._train_centroids_np(spark, sf, k=k, train_n=train_n).collect(),
            )
        )
        assert a == b and a, f"centroid divergence at {sf}"


def test_index_compaction_preserves_serving(spark):
    """Compacting a streamed-into index's leaf partitions shrinks the
    file count and changes NOTHING else: identical assignment rows and
    identical serving output before/after."""
    import glob
    import os

    from kasper_spark.maintenance import compact_index_partitions
    from kasper_spark.operators import similarity as S
    from kasper_spark.operators.streaming_twins import _ivf_append_run

    idx, _ = _ivf_append_run(spark, SF_SMOKE, 5)
    table = os.path.join(idx, "assignments")
    before_files = len(
        glob.glob(os.path.join(table, "**", "*.parquet"), recursive=True)
    )
    before_rows = sorted(
        map(
            tuple,
            spark.read.parquet(table)
            .select("vec_id", F.col("cluster_id").cast("long"))
            .collect(),
        )
    )
    before_serve = sorted(
        map(tuple, S._search_persisted_index(spark, SF_SMOKE, idx).collect())
    )
    n = compact_index_partitions(spark, table, target_bytes=64 * 1024 * 1024)
    assert n > 0, "nothing compacted despite 5 append epochs"
    after_files = len(
        glob.glob(os.path.join(table, "**", "*.parquet"), recursive=True)
    )
    assert after_files < before_files
    after_rows = sorted(
        map(
            tuple,
            spark.read.parquet(table)
            .select("vec_id", F.col("cluster_id").cast("long"))
            .collect(),
        )
    )
    assert after_rows == before_rows
    after_serve = sorted(
        map(tuple, S._search_persisted_index(spark, SF_SMOKE, idx).collect())
    )
    assert after_serve == before_serve


def test_mutual_knn_plan_has_no_pair_shuffle(spark, monkeypatch):
    """The m^2 pair volume must stay inside the per-group numpy call:
    the physical plan may shuffle rows (groupBy cluster_id/sb) but must
    contain no window over the pair stream and no pair-level join before
    the FlatMapGroupsInPandas. cut_lineage is bypassed for the assertion
    (its localCheckpoint truncates the plan to a Scan ExistingRDD, hiding
    the stage under inspection; values are unaffected)."""
    from kasper_spark.operators import similarity as S

    monkeypatch.setattr(S, "cut_lineage", lambda df: df)
    plan = (
        QUERIES["mutual_knn_pairs"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "Window" not in plan, "rank must happen in-group, not in a window"
